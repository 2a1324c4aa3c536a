package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.expressions.HashExpressions

/** Mergeable per-group QUANTILE sketches — the register-table family's
  * missing member (count–min counts, HLL cardinality, KMV overlap,
  * log-hist octave quantiles — this file adds rank-accurate quantiles
  * with a bounded state table).
  *
  * Two devices, two contracts:
  *
  *  1. '''Bottom-k uniform-sample registers''' ([[sampleRegistersBy]]) —
  *     the k rows with the SMALLEST item-id hash per group, carrying
  *     their values. A bottom-k-by-hash set is a uniform random sample
  *     without replacement (the KMV insight applied to values instead
  *     of cardinality), so the sample's nearest-rank quantile estimates
  *     the population quantile with rank error O(√(ln(1/δ)/k))
  *     (Agarwal et al., "Mergeable Summaries", PODS 2012, §3 random
  *     sampling). Deterministic given the hash, ORDER-INDEPENDENT, and
  *     exactly replayable in SQL — which is what the replay-exact
  *     oracle gate demands, and what KLL/GK (order-dependent
  *     compaction) structurally cannot give.
  *  2. '''Deterministic KLL/MRL compactor''' ([[KllQuantileAgg]]) — a
  *     typed `Aggregator` folding doubles into a multi-level compactor
  *     (Karnin–Lang–Liberty 2016 structure with the
  *     Manku–Rajagopalan–Lindsay equal-capacity schedule and
  *     alternating-parity instead of coin-flip compaction, the
  *     "deterministic mode" real KLL libraries ship). Rank error
  *     O(log(n/k)/k) — tighter per byte than sampling — with
  *     `reduce`/`merge` the exact shard-parallel contract Spark's
  *     partial aggregation wants. Order-dependent (spec'd by its
  *     GUARANTEE — rank-error bound — not by replay).
  *
  * 100 TB shape: both sketches touch the corpus ONCE and carry ≤ k
  * (sample) or ≤ k·log₂(n/k) (KLL) values per group forever; shards
  * build independently and merge at sketch grain ([[sampleMerge]] /
  * `Aggregator.merge`), so per-source p50/p90/p99 over 10¹¹ rows is a
  * map-side fold plus a groups×k-row reduce — never a global sort.
  * The exact nearest-rank devices (winsorize cuts, [[Ranks]]) stay the
  * right tool when exactness is required; this is the bounded-state
  * path for dashboard-grade readouts.
  */
object QuantileSketch {

  /** Bottom-k uniform-sample register table `(key, h, v)`: for each
    * group, the `k` rows whose `splitmix64∘fnv1a64(idCol)` hash is
    * smallest, carrying `valueCol` AS-IS (any orderable type — longs,
    * money-grid doubles). The ID hash (not the
    * value) drives retention, so retained values are a uniform sample
    * of the group. Rows with a null value are dropped first (the
    * sketch convention — a null has no rank). Groups smaller than k
    * keep every row, and their readout is EXACT.
    *
    * The per-group bottom-k is one keyed window over the hash — a
    * single shuffle at corpus grain; everything downstream is sketch
    * grain. Ranks order by (h, __id) so hash ties (2⁻⁶⁴-improbable,
    * but replay must not depend on luck) stay deterministic; `__id`
    * stays IN the register schema so [[sampleMerge]] can apply the
    * SAME (h, __id) order — merge(build(A), build(B)) must equal
    * build(A ∪ B) even on a hash tie.
    */
  def sampleRegistersBy(items: DataFrame, keyCol: String, idCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    val h = HashExpressions.splitmix64(
      HashExpressions.fnv1a64(col("__id")))
    items
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), col(idCol).cast("string").as("__id"),
        col(valueCol).as("v"))
      .withColumn("h", h)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("h"), col("__id"))))
      .filter(col("rank") <= k)
      .select(col("key"), col("h"), col("__id"), col("v"))
  }

  /** Merge two register tables built over DISJOINT row shards:
    * bottom-k of the union, the [[Sketches.kmvMerge]] law. Associative
    * and commutative, so any shard tree folds to the sketch the whole
    * corpus would build — the streaming/backfill contract: folding
    * each micro-batch's [[sampleRegistersBy]] through
    * [[graft.streaming.Streams.fold]] keeps k (hash, value) rows per key
    * forever, readable at any time with [[sampleQuantilesBy]] (spec'd
    * batch ≡ folded in SketchStreamSpec).
    */
  def sampleMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    a.select(col("key"), col("h"), col("__id"), col("v"))
      .union(b.select(col("key"), col("h"), col("__id"), col("v")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("h"), col("__id"))))
      .filter(col("rank") <= k)
      .select(col("key"), col("h"), col("__id"), col("v"))
  }

  /** WEIGHTED bottom-k sample registers `(key, skey, v)` — the
    * [[sampleRegistersBy]] contract with Efraimidis–Spirakis
    * retention ([[Sampling.weightedSampleWithoutReplacement]]'s exact
    * device, keyed): each row draws `skey = −ln(u)/w` (exponential
    * with rate w, u the 53-bit splitmix uniform of the id), and the
    * k SMALLEST keys per group are a weight-proportional sample —
    * so the UNWEIGHTED nearest-rank quantile of the retained values
    * ([[sampleQuantilesBy]] applies unchanged) estimates the
    * WEIGHTED population quantile. This is the bounded-state
    * production path for q181's token-weighted median (exact device:
    * a corpus-grain cumulative-weight window); rank error spec'd
    * empirically in QuantileSketchSpec. Groups smaller than k keep
    * every row — but note the readout is then the UNIFORM quantile
    * of all values, NOT the weighted one; the estimator's value is
    * for groups ≫ k (the deployment case). Order-independent,
    * shard-mergeable ([[weightedSampleMerge]]), replay-exact.
    */
  def weightedSampleRegistersBy(items: DataFrame, keyCol: String,
      idCol: String, valueCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    val h = HashExpressions.splitmix64(col("__id"))
    val u = (shiftrightunsigned(h, 11).cast("double") + lit(0.5)) *
      lit(math.pow(2, -53))
    items
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol).cast("double") > 0 &&
        // numeric-id contract (the exponential key hashes the LONG
        // id); a non-castable id would hash to null and hog the
        // bottom ranks — excluded loudly here, like the w <= 0 rows
        col(idCol).cast("long").isNotNull)
      .select(col(keyCol).as("key"), col(idCol).cast("long").as("__id"),
        col(valueCol).as("v"), col(weightCol).cast("double").as("__w"))
      .withColumn("skey", -log(u) / col("__w"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("skey"), col("__id"))))
      .filter(col("rank") <= k)
      .select(col("key"), col("skey"), col("__id"), col("v"))
  }

  /** Merge two [[weightedSampleRegistersBy]] tables over disjoint row
    * shards: bottom-k of the union by the exponential key — the
    * [[sampleMerge]] law with the weighted retention key.
    */
  def weightedSampleMerge(a: DataFrame, b: DataFrame,
      k: Int): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    a.select(col("key"), col("skey"), col("__id"), col("v"))
      .union(b.select(col("key"), col("skey"), col("__id"), col("v")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("skey"), col("__id"))))
      .filter(col("rank") <= k)
      .select(col("key"), col("skey"), col("__id"), col("v"))
  }

  /** Nearest-rank quantile readout of a [[sampleRegistersBy]] table:
    * one row per `(key, pct)` with `n_kept` (sample size) and `q_est`
    * — the sample value at rank `⌈pct·n_kept/100⌉` (integer
    * arithmetic, the [[Sketches.logHistQuantiles]] rank rule). The
    * value at a rank is unique regardless of tie order, so the readout
    * is replay-exact. Both windows partition by key and run over ≤ k
    * rows per group — bounded, parallel across groups.
    */
  def sampleQuantilesBy(regs: DataFrame, percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty, "no percents")
    require(percents.forall(p => p >= 1 && p <= 100),
      s"percents must be 1..100: $percents")
    val spark = regs.sparkSession
    import spark.implicits._
    val pcts = percents.distinct.sorted.toDF("pct")
    regs
      .withColumn("i", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("v"))))
      .withColumn("n_kept", count(lit(1)).over(
        Window.partitionBy(col("key"))))
      .crossJoin(broadcast(pcts))
      .withColumn("r", expr("(pct * n_kept + 99) DIV 100"))
      .filter(col("i") === col("r"))
      .select(col("key"), col("pct"), col("n_kept"), col("v").as("q_est"))
  }

  // ---- KLL/MRL deterministic compactor -----------------------------

  /** KLL compactor state: `n` items folded; `lvl0` an UNSORTED fill
    * buffer with `n0` live slots (weight-1 raws); `upper(i)` a SORTED
    * buffer whose items each stand for 2^(i+1) inputs; `flip` the
    * alternating compaction parity — the deterministic stand-in for
    * KLL's coin flip (consecutive compactions keep complementary
    * halves, so neither rank direction is systematically favored).
    * Represented weight `n0 + Σ |upper(i)|·2^(i+1)` equals `n`
    * EXACTLY: compaction only ever halves an even-length prefix, so no
    * weight is created or destroyed (asserted in KllSpec).
    */
  case class KllBuf(n: Long, n0: Int, flip: Boolean,
      lvl0: Array[Double], upper: Array[Array[Double]])

  /** Typed `Aggregator` folding a double column into per-group
    * quantile estimates at `percents`, for `groupBy(...).agg(...)` —
    * Spark runs `reduce` map-side per partition and `merge` at the
    * exchange, so the corpus is touched once and only sketch buffers
    * shuffle. Output is one array slot per requested percent, in
    * sorted-distinct order ([[kllQuantilesBy]] explodes it).
    *
    * Level capacity `k` throughout (the MRL schedule); compaction
    * sorts a full buffer, keeps alternate items of its even prefix
    * (parity-flipped each compaction), and promotes them one level up,
    * cascading. Readout is weighted nearest-rank over the ≤ k·levels
    * retained (value, 2^level) pairs. Empirical rank error is spec'd
    * at ≤ 3·(levels)/k of n in KllSpec.
    */
  final class KllQuantileAgg(k: Int, percents: Seq[Int])
      extends Aggregator[Double, KllBuf, Array[Double]] {
    require(k >= 8 && k % 2 == 0, s"k $k must be even and >= 8")
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be 1..100: $percents")

    def zero: KllBuf =
      KllBuf(0L, 0, flip = false, new Array[Double](k), Array.empty)

    def reduce(b: KllBuf, x: Double): KllBuf = {
      b.lvl0(b.n0) = x
      val b2 = b.copy(n = b.n + 1, n0 = b.n0 + 1)
      if (b2.n0 == k) compactLvl0(b2) else b2
    }

    /** Alternate items of `sorted`'s even-length prefix; `odd` picks
      * which half survives.
      */
    private def keepAlternate(sorted: Array[Double],
        odd: Boolean): Array[Double] = {
      val even = sorted.length & ~1
      val off = if (odd) 1 else 0
      Array.tabulate(even / 2)(i => sorted(off + 2 * i))
    }

    private def mergeSorted(a: Array[Double],
        b: Array[Double]): Array[Double] = {
      val out = new Array[Double](a.length + b.length)
      var i = 0; var j = 0; var o = 0
      while (i < a.length && j < b.length) {
        if (a(i) <= b(j)) { out(o) = a(i); i += 1 }
        else { out(o) = b(j); j += 1 }
        o += 1
      }
      while (i < a.length) { out(o) = a(i); i += 1; o += 1 }
      while (j < b.length) { out(o) = b(j); j += 1; o += 1 }
      out
    }

    /** Compact the full lvl0 (k items, k even — exact halving) into
      * upper(0), cascading overflow upward. Weight-conserving: a
      * cascade step halves only the even prefix of an over-capacity
      * buffer and leaves the odd remainder (its max — the buffer is
      * sorted) in place at its own level.
      */
    private def compactLvl0(b: KllBuf): KllBuf = {
      var flip = b.flip
      var promoted = keepAlternate(b.lvl0.clone().sorted, flip)
      flip = !flip
      val out = scala.collection.mutable.ArrayBuffer(b.upper.toSeq: _*)
      var lvl = 0
      while (promoted.nonEmpty) {
        if (lvl >= out.length) { out += promoted; promoted = Array.empty }
        else {
          val merged = mergeSorted(out(lvl), promoted)
          if (merged.length < k) { out(lvl) = merged; promoted = Array.empty }
          else {
            out(lvl) = if (merged.length % 2 == 1)
              Array(merged(merged.length - 1)) else Array.empty
            promoted = keepAlternate(merged, flip)
            flip = !flip
            lvl += 1
          }
        }
      }
      KllBuf(b.n, 0, flip, b.lvl0, out.toArray)
    }

    def merge(b1: KllBuf, b2: KllBuf): KllBuf = {
      // Fold b2's raw lvl0 items through reduce (≤ k of them), then
      // level-wise sorted-merge b2's compacted buffers, cascading any
      // overflow. n accounting: reduce() counts the raws; the
      // compacted buffers' represented weight is added once at the end.
      var acc = b1
      var i = 0
      while (i < b2.n0) { acc = reduce(acc, b2.lvl0(i)); i += 1 }
      var flip = acc.flip
      val out = scala.collection.mutable.ArrayBuffer(acc.upper.toSeq: _*)
      var lvl = 0
      while (lvl < b2.upper.length) {
        var carry = b2.upper(lvl)
        var at = lvl
        while (carry.nonEmpty) {
          if (at >= out.length) { out += carry; carry = Array.empty }
          else {
            val merged = mergeSorted(out(at), carry)
            if (merged.length < k) { out(at) = merged; carry = Array.empty }
            else {
              out(at) = if (merged.length % 2 == 1)
                Array(merged(merged.length - 1)) else Array.empty
              carry = keepAlternate(merged, flip)
              flip = !flip
              at += 1
            }
          }
        }
        lvl += 1
      }
      val upperWeight = b2.upper.zipWithIndex
        .map { case (a, l) => a.length.toLong << (l + 1) }.sum
      KllBuf(acc.n + upperWeight, acc.n0, flip, acc.lvl0, out.toArray)
    }

    def finish(b: KllBuf): Array[Double] = {
      val ps = percents.distinct.sorted
      if (b.n == 0) return ps.map(_ => Double.NaN).toArray
      val pairs = scala.collection.mutable.ArrayBuffer[(Double, Long)]()
      var i = 0
      while (i < b.n0) { pairs += ((b.lvl0(i), 1L)); i += 1 }
      b.upper.zipWithIndex.foreach { case (arr, lvl) =>
        arr.foreach(v => pairs += ((v, 1L << (lvl + 1))))
      }
      val sorted = pairs.sortBy(_._1)
      val w = sorted.map(_._2).sum
      ps.map { p =>
        val target = (p.toLong * w + 99) / 100
        var cum = 0L
        var out = sorted.last._1
        var found = false
        val it = sorted.iterator
        while (it.hasNext && !found) {
          val (v, wt) = it.next()
          cum += wt
          if (cum >= target) { out = v; found = true }
        }
        out
      }.toArray
    }

    def bufferEncoder: Encoder[KllBuf] = Encoders.product[KllBuf]
    def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Per-group KLL quantiles as a DataFrame: one row per
    * `(key, pct, q_est)` from ONE pass over `items` —
    * `groupBy(key).agg(kll)` then a posexplode of the quantile array
    * against the sorted-distinct percent list.
    */
  def kllQuantilesBy(items: DataFrame, keyCol: String, valueCol: String,
      k: Int, percents: Seq[Int]): DataFrame = {
    val agg = udaf(new KllQuantileAgg(k, percents), Encoders.scalaDouble)
    val ps = percents.distinct.sorted
    items
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), col(valueCol).cast("double").as("__v"))
      .groupBy(col("key"))
      .agg(agg(col("__v")).as("qs"))
      .select(col("key"), posexplode(col("qs")).as(Seq("pos", "q_est")))
      .withColumn("pct", element_at(array(ps.map(lit): _*), col("pos") + 1))
      .select(col("key"), col("pct"), col("q_est"))
  }
}
