package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Heavy hitters with BOUNDED state — the sketch family's "WHICH items
  * are frequent" member (count–min answers point queries about items
  * you already hold; this enumerates them). Misra–Gries (1982) as a
  * typed `Aggregator`: k counters; a seen counter increments, a new
  * item takes a free slot, and when all k slots are full every counter
  * decrements (charging the new item and k incumbents one occurrence
  * each). Invariants (Misra–Gries; merge form Agarwal et al.,
  * "Mergeable Summaries", PODS 2012 §2):
  *
  *  - `true(x) − n/(k+1) ≤ est(x) ≤ true(x)` for every item x,
  *  - therefore EVERY item with true count > n/(k+1) is in the summary
  *    — regardless of arrival order.
  *
  * The summary itself is order-dependent (which sub-threshold items
  * ride along, and their clipped counts, vary with arrival order), so
  * the replay-exact gate runs the TWO-PASS form
  * ([[exactHeavyHitters]]): MG pass bounds the candidate set, an exact
  * second pass counts ONLY those ≤ k candidates and filters at
  * `minCount` — the superset guarantee makes the final output exactly
  * "all items with true count ≥ minCount", deterministic and
  * oracle-able by a plain GROUP BY, while the corpus-sized
  * count-all-distinct shuffle is replaced by one bounded-state fold
  * plus a broadcast-semi-join count of k items.
  *
  * 100 TB shape: pass 1 is `reduce` map-side per partition and a
  * k-entry `merge` at the exchange (one k-sized buffer per partition
  * crosses the wire — never rows, never the distinct-item table);
  * pass 2 touches the corpus again but aggregates only rows matching
  * the ≤ k broadcast candidates. Choose `k ≥ n/minCount` (checked at
  * runtime — loudly, since silently missing a hitter is the one
  * failure mode this must not have).
  */
object HeavyHitters {

  /** MG state: ≤ k live counters plus the total items folded (`n`,
    * for the runtime guarantee check). MUTABLE, kryo-encoded — the
    * buffer lives as an object within a partition (reduce is O(1)
    * amortized: each decrement-all pays for k+1 arrivals) and
    * serializes only at the exchange.
    */
  final class MgState(var n: Long,
      val counts: scala.collection.mutable.HashMap[String, Long])
    extends Serializable

  /** Misra–Gries summary of a string column as a typed `Aggregator`:
    * output is the (item → clipped count) map. Buffers merge by count
    * addition then a (k+1)-th-largest subtraction — the Mergeable
    * Summaries rule, so shard order never affects the GUARANTEE (only
    * which sub-threshold stowaways remain).
    */
  final class MisraGriesAgg(k: Int)
      extends Aggregator[String, MgState, Map[String, Long]] {
    require(k >= 1, s"k $k must be >= 1")

    def zero: MgState =
      new MgState(0L, scala.collection.mutable.HashMap.empty)

    def reduce(b: MgState, x: String): MgState = {
      val m = b.counts
      m.get(x) match {
        case Some(c) => m(x) = c + 1
        case None if m.size < k => m(x) = 1L
        case None =>
          val dead = scala.collection.mutable.ArrayBuffer[String]()
          m.keysIterator.foreach { key =>
            val c = m(key) - 1
            if (c == 0) dead += key else m(key) = c
          }
          dead.foreach(m.remove)
      }
      b.n += 1
      b
    }

    def merge(b1: MgState, b2: MgState): MgState = {
      val m = b1.counts
      b2.counts.foreach { case (item, c) =>
        m(item) = m.getOrElse(item, 0L) + c
      }
      if (m.size > k) {
        // subtract the (k+1)-th largest count from everyone; keep > 0
        val kth = m.values.toArray.sorted(Ordering[Long].reverse)(k)
        val dead = scala.collection.mutable.ArrayBuffer[String]()
        m.keysIterator.foreach { key =>
          val c = m(key) - kth
          if (c <= 0) dead += key else m(key) = c
        }
        dead.foreach(m.remove)
      }
      b1.n += b2.n
      b1
    }

    def finish(b: MgState): Map[String, Long] = b.counts.toMap

    def bufferEncoder: Encoder[MgState] = Encoders.kryo[MgState]
    def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Map[String, Long]]()
  }

  /** Exact heavy hitters via the two-pass MG device: all items of
    * `itemCol` with true count ≥ `minCount`, as `(item, cnt)` —
    * deterministic (plain-GROUP-BY-equal) output from bounded-state
    * passes. Runtime-checks the completeness precondition
    * `minCount > n/(k+1)`; raises otherwise (a quiet miss is the one
    * unacceptable failure mode).
    */
  def exactHeavyHitters(items: DataFrame, itemCol: String, k: Int,
      minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount $minCount must be >= 1")
    heavyHittersBy(items, itemCol, k, (_: Long) => minCount)
  }

  /** Relative-threshold form: items appearing in ≥ `1/share` of the
    * rows (e.g. share = 100 → ≥ 1% of the corpus), `minCount =
    * ⌈n/share⌉` derived from the observed n IN THE SAME PASS as the
    * MG fold — the common "what dominates this column" call. Requires
    * `k ≥ share` (then `minCount = ⌈n/share⌉ > n/(k+1)` always holds
    * — no data-dependent failure).
    */
  def frequentItems(items: DataFrame, itemCol: String, k: Int,
      share: Int): DataFrame = {
    require(share >= 2, s"share $share must be >= 2")
    require(k >= share, s"k $k must be >= share $share for the " +
      "completeness guarantee to be unconditional")
    heavyHittersBy(items, itemCol, k,
      n => math.max(1L, (n + share - 1) / share))
  }

  /** Per-group heavy hitters `(key, item, cnt)` — every item in ≥
    * `1/share` of ITS GROUP's rows, the [[frequentItems]] contract
    * keyed (the `hllRegistersBy` shape: one `groupBy(key).agg(MG)`
    * pass folds every group's summary in parallel, candidates explode
    * to ≤ k rows per group, and one (key, item) equi-join recounts
    * them exactly). `k ≥ share` keeps the superset guarantee
    * unconditional per group, whatever the group sizes. The candidate
    * table is groups × k — never broadcast (it scales with groups);
    * the recount join is a plain keyed equi-join AQE sizes itself.
    */
  def frequentItemsBy(items: DataFrame, keyCol: String, itemCol: String,
      k: Int, share: Int): DataFrame = {
    require(share >= 2, s"share $share must be >= 2")
    require(k >= share, s"k $k must be >= share $share for the " +
      "completeness guarantee to be unconditional")
    val agg = udaf(new MisraGriesAgg(k), Encoders.STRING)
    val src = items.select(col(keyCol).as("key"),
        col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    val summaries = src.groupBy(col("key"))
      .agg(agg(col("item")).as("mg"), count(lit(1)).as("n"))
    val cands = summaries.select(col("key"),
      explode(map_keys(col("mg"))).as("item"),
      expr(s"(n + ${share - 1}) DIV $share").as("__min"))
    src.join(cands, Seq("key", "item"))
      .groupBy(col("key"), col("item"))
      .agg(count(lit(1)).as("cnt"), first(col("__min")).as("__m"))
      .filter(col("cnt") >= greatest(col("__m"), lit(1L)))
      .select(col("key"), col("item"), col("cnt"))
  }

  /** Pure merge of two finished MG summaries (item → clipped count)
    * at capacity k — the Mergeable Summaries rule on plain maps, for
    * folding per-shard/per-batch summaries OUTSIDE an aggregation
    * (the streaming consumer's fold: [[summarize]] per micro-batch
    * folded through [[graft.streaming.Streams.fold]]). Same
    * band/superset guarantees as [[MisraGriesAgg.merge]]; exact
    * equality with the whole-stream summary is NOT the contract, since
    * MG is order-dependent below the guarantee (SketchStreamSpec pins
    * the guarantee itself).
    */
  def mergeSummaries(a: Map[String, Long], b: Map[String, Long],
      k: Int): Map[String, Long] = {
    require(k >= 1, s"k $k must be >= 1")
    val m = scala.collection.mutable.HashMap[String, Long]()
    a.foreach { case (i, c) => m(i) = c }
    b.foreach { case (i, c) => m(i) = m.getOrElse(i, 0L) + c }
    if (m.size > k) {
      val kth = m.values.toArray.sorted(Ordering[Long].reverse)(k)
      m.filterInPlace { case (_, c) => c - kth > 0 }
        .mapValuesInPlace { case (_, c) => c - kth }
    }
    m.toMap
  }

  /** One-row MG summary of a DataFrame column: `(summary, n)` — the
    * per-batch building block the streaming fold consumes.
    */
  def summarize(items: DataFrame, itemCol: String,
      k: Int): (Map[String, Long], Long) = {
    val agg = udaf(new MisraGriesAgg(k), Encoders.STRING)
    val row = items.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
      .agg(agg(col("item")).as("mg"), count(lit(1)).as("n")).head()
    (row.getMap[String, Long](0).toMap, row.getLong(1))
  }

  private def heavyHittersBy(items: DataFrame, itemCol: String, k: Int,
      minCountOf: Long => Long): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val agg = udaf(new MisraGriesAgg(k), Encoders.STRING)
    val src = items.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    val row = src.agg(agg(col("item")).as("mg"),
      count(lit(1)).as("n")).head()
    val summary = row.getMap[String, Long](0)
    val n = row.getLong(1)
    val minCount = minCountOf(n)
    require(minCount.toDouble > n.toDouble / (k + 1),
      s"minCount $minCount <= n/(k+1) = ${n.toDouble / (k + 1)}: " +
        "the MG candidate set cannot guarantee completeness — raise k")
    val cands = summary.keys.toSeq.toDF("item")
    src.join(broadcast(cands), Seq("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }
}
