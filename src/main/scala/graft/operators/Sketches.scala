package graft.operators

import graft.expressions.HashExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count–min sketch (Cormode & Muthukrishnan 2005) over a token stream —
  * the sublinear frequency table for "how often does each of billions of
  * distinct items occur" when the exact table itself is the cost
  * problem. `depth` independent hash rows of `width` counters; an item's
  * estimate is the MINIMUM of its `depth` cells, always ≥ the true count
  * (one-sided error ≤ ε·N with ε = e/width at the usual depth ≈ ln 1/δ).
  *
  * The sketch is held AS A DATAFRAME of occupied cells (row, bucket, c),
  * not a driver array: build is one explode + one partial-agg shuffle
  * (the cell table is ≤ depth·width rows — a CONFIG bound, broadcast-
  * safe by construction); estimation is an equi-join on (row, bucket).
  * Sketches over different corpus shards MERGE by unioned cell-wise sum
  * ([[countMinMerge]]) — the property that makes the structure work on
  * a 1000-executor ingest: shard-local sketches, one tiny merge.
  *
  * Cell placement replays engine-exactly: row `j` of item `t` lives at
  * `splitmix64(fnv1a64(t) XOR j) mod width` (the [[Contamination]]
  * Bloom device, power-of-two width so unsigned-vs-signed mod agree).
  */
object Sketches {

  /** The row-`j` bucket of a token (width a power of two). */
  def cmsBucket(token: Column, row: Int, width: Int): Column =
    pmod(HashExpressions.splitmix64(
      HashExpressions.fnv1a64(token).bitwiseXOR(lit(row.toLong))),
      lit(width.toLong))

  private def checkParams(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 16, s"bad depth $depth")
    require(width > 0 && (width & (width - 1)) == 0,
      s"width $width must be a power of two (engine-exact mod)")
  }

  /** Build the occupied-cell table (row, bucket, c) from one item
    * column. One scan: each item row explodes to its `depth` cells via
    * a literal-array posexplode, then one partial-agg shuffle.
    */
  def countMinBuild(items: DataFrame, itemCol: String, depth: Int,
      width: Int): DataFrame = {
    checkParams(depth, width)
    items
      .filter(col(itemCol).isNotNull) // a null item has no cells
      .select(posexplode(array(
        (0 until depth).map(j => cmsBucket(col(itemCol), j, width)): _*))
        .as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Point-query estimates for `queries`' distinct `itemCol` values:
    * (item, c_est) with `c_est = min_j cell(j, bucket_j(item))` —
    * ≥ the true count always, = for items whose every row is
    * collision-free. The cell table is broadcast (≤ depth·width rows,
    * a config bound).
    */
  def countMinEstimate(queries: DataFrame, itemCol: String,
      cms: DataFrame, depth: Int, width: Int): DataFrame = {
    checkParams(depth, width)
    queries.select(col(itemCol)).filter(col(itemCol).isNotNull)
      .distinct()
      .select(col(itemCol), posexplode(array(
        (0 until depth).map(j => cmsBucket(col(itemCol), j, width)): _*))
        .as(Seq("row", "bucket")))
      .join(broadcast(cms), Seq("row", "bucket"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("c_est"))
  }

  /** Cell-wise sum of two sketches built with the SAME (depth, width) —
    * the shard-merge that makes per-executor sketching compose, and the
    * streaming fold: each micro-batch's [[countMinBuild]] folded with
    * this merge through [[graft.streaming.Streams.fold]] keeps a state
    * of a few KB that is cell-identical to the sketch of the whole
    * stream (spec'd in SketchStreamSpec). The same holds for
    * [[hllMerge]], [[logHistMerge]] and [[kmvMerge]] over their builds.
    */
  def countMinMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("c")).as("c"))

  // ---- HyperLogLog (distinct-count sketch) ---------------------------

  /** HyperLogLog bias constant α_m for `m = 2^p` registers (Flajolet
    * et al. 2007's published table; the asymptotic form above m = 64).
    * Exposed so the DuckDB oracle embeds the IDENTICAL literal.
    */
  def hllAlpha(p: Int): Double = p match {
    case 4 => 0.673
    case 5 => 0.697
    case 6 => 0.709
    case _ => 0.7213 / (1 + 1.079 / (1L << p))
  }

  /** Exact bit length of a non-negative long below `2^maxBits`, as a
    * literal-array comparison count — no doubles anywhere (a float
    * `log2` rounds across power-of-two boundaries above 2^53), and the
    * SAME formula the SQL oracle replays.
    */
  private def bitlen(x: Column, maxBits: Int): Column =
    size(filter(array((0 until maxBits).map(j => lit(1L << j)): _*),
      pw => pw <= x))

  /** Occupied HLL registers (idx, m_j) for one item column: register
    * `idx` = top `p` bits of `splitmix64(fnv1a64(item))`, `m_j` = max
    * over its items of (leading-zero run of the remaining `64−p` bits
    * + 1). Registers depend only on the SET of items — duplicates are
    * absorbed by the max, which is also why two shards' register
    * tables merge by idx-wise max ([[hllMerge]]).
    */
  def hllRegisters(items: DataFrame, itemCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"bad p $p (4..16)")
    val sub = 64 - p
    val h = HashExpressions.splitmix64(HashExpressions.fnv1a64(col(itemCol)))
    val rest = h.bitwiseAND(lit((1L << sub) - 1))
    items
      .filter(col(itemCol).isNotNull) // a null item is not a value
      .select(shiftrightunsigned(h, sub).as("idx"),
        (lit(sub + 1) - bitlen(rest, sub)).as("rho"))
      .groupBy(col("idx"))
      .agg(max(col("rho")).as("m_j"))
  }

  /** Idx-wise max of two register tables with the same `p`. */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("idx")).agg(max(col("m_j")).as("m_j"))

  /** Per-group HLL registers (keyCol, idx, m_j) — one register table
    * for ALL groups in one pass, keyed by `keyCol` (the deployment
    * shape: "distinct vocabulary per source/language/day" without a
    * per-group job). Group cardinality bounds the table at
    * groups × 2^p rows.
    */
  def hllRegistersBy(items: DataFrame, keyCol: String, itemCol: String,
      p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"bad p $p (4..16)")
    val sub = 64 - p
    val h = HashExpressions.splitmix64(HashExpressions.fnv1a64(col(itemCol)))
    val rest = h.bitwiseAND(lit((1L << sub) - 1))
    items
      .filter(col(itemCol).isNotNull) // a null item is not a value
      .select(col(keyCol), shiftrightunsigned(h, sub).as("idx"),
        (lit(sub + 1) - bitlen(rest, sub)).as("rho"))
      .groupBy(col(keyCol), col("idx"))
      .agg(max(col("rho")).as("m_j"))
  }

  /** Per-group estimates from a [[hllRegistersBy]] table: one row per
    * group `(keyCol, m, n_registers_used, reg_sum, hll_estimate)`,
    * same estimator and small-range correction as [[hllEstimate]] —
    * entirely distributed (a groupBy over the register table, never a
    * per-group driver loop).
    */
  def hllEstimateBy(regs: DataFrame, keyCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"bad p $p (4..16)")
    val m = (1L << p).toDouble
    regs
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_occ"),
        coalesce(sum(pow(lit(2.0), -col("m_j"))), lit(0.0)).as("s_occ"),
        coalesce(sum(col("m_j")), lit(0L)).as("reg_sum"))
      .select(col(keyCol), lit(1L << p).as("m"),
        col("n_occ").as("n_registers_used"), col("reg_sum"),
        round({
          val v = lit(m) - col("n_occ")
          val e = lit(hllAlpha(p) * m * m) / (col("s_occ") + v)
          when(e <= lit(2.5 * m) && v > 0, lit(m) * log(lit(m) / v))
            .otherwise(e)
        }, 4).as("hll_estimate"))
  }

  /** Pairwise overlap matrix over a keyed item set, by HLL
    * inclusion–exclusion: for every unordered key pair `(a, b)` the
    * sketched distinct counts `est_a`, `est_b`, their union estimate
    * from the idx-wise-max merged registers, and
    * `est_overlap = est_a + est_b − est_union` — the standard way to
    * get an S×S "how much does source A's vocabulary overlap B's"
    * dashboard WITHOUT an S² exact-intersection join over the raw
    * items.
    *
    * 100 TB shape: the raw items are touched ONCE ([[hllRegistersBy]]
    * — one shuffle at (key, idx) grain, ≤ groups × 2^p rows out).
    * Everything pairwise happens on that register table: the key list
    * broadcasts into a `<`-ordered pair frame, two broadcast joins fan
    * the registers out per pair, and one aggregation takes the idx-wise
    * max. Work is S²·2^p REGISTER rows, independent of item count —
    * the whole point of sketching the matrix.
    *
    * Estimates are rounded to the 4-decimal grid BEFORE the
    * inclusion–exclusion subtraction so the matrix replays in SQL.
    * Negative overlap estimates (sketch noise on near-disjoint pairs)
    * are reported as-is — clamping hides exactly the signal ("these
    * two sources are disjoint") the matrix exists to show.
    */
  def hllOverlapMatrix(items: DataFrame, keyCol: String, itemCol: String,
      p: Int): DataFrame = {
    val regs = hllRegistersBy(items, keyCol, itemCol, p)
    val keys = regs.select(col(keyCol)).distinct()
    val pairs = broadcast(keys.select(col(keyCol).as("a")))
      .join(broadcast(keys.select(col(keyCol).as("b"))), col("a") < col("b"))
    val est = hllEstimateBy(regs, keyCol, p)
      .select(col(keyCol), col("hll_estimate"))
    val ra = pairs.join(regs.withColumnRenamed(keyCol, "a"), Seq("a"))
      .select(col("a"), col("b"), col("idx"), col("m_j"))
    val rb = pairs.join(regs.withColumnRenamed(keyCol, "b"), Seq("b"))
      .select(col("a"), col("b"), col("idx"), col("m_j"))
    val unionRegs = ra.unionByName(rb)
      .groupBy(col("a"), col("b"), col("idx"))
      .agg(max(col("m_j")).as("m_j"))
    val m = (1L << p).toDouble
    val estUnion = unionRegs
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_occ"),
        coalesce(sum(pow(lit(2.0), -col("m_j"))), lit(0.0)).as("s_occ"))
      .select(col("a"), col("b"),
        round({
          val v = lit(m) - col("n_occ")
          val e = lit(hllAlpha(p) * m * m) / (col("s_occ") + v)
          when(e <= lit(2.5 * m) && v > 0, lit(m) * log(lit(m) / v))
            .otherwise(e)
        }, 4).as("est_union"))
    estUnion
      .join(broadcast(est.select(col(keyCol).as("a"),
        col("hll_estimate").as("est_a"))), Seq("a"))
      .join(broadcast(est.select(col(keyCol).as("b"),
        col("hll_estimate").as("est_b"))), Seq("b"))
      .select(col("a"), col("b"), col("est_a"), col("est_b"),
        col("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 4)
          .as("est_overlap"))
  }

  // ---- log-histogram quantile sketch -------------------------------

  /** The power-of-two bucket of a non-negative long value: bucket 0 ⇔
    * `v = 0`, bucket `b ≥ 1` ⇔ `v ∈ [2^(b−1), 2^b)` — i.e. the exact
    * bit length, via the same literal-powers comparison count as the
    * HLL rho (no doubles anywhere; a float `log2` rounds across
    * power-of-two boundaries). OUT-OF-RANGE values raise loudly, both
    * sides: a negative has no bucket, and a value ≥ 2^maxBits would
    * otherwise clamp into the top bucket and silently BREAK the
    * one-sided `est_hi ≥ true quantile` guarantee the readout
    * documents (an estimate below the truth, with no error). Exposed
    * so specs and oracles share the formula.
    */
  def logBucket(v: Column, maxBits: Int): Column =
    when(v < 0, raise_error(concat(lit("logBucket: negative value "),
      v.cast("string"))))
      .when(v >= lit(1L << maxBits), raise_error(concat(
        lit(s"logBucket: value >= 2^$maxBits overflows the sketch: "),
        v.cast("string"))))
      .otherwise(bitlen(v, maxBits))

  /** Mergeable quantile sketch as a log-bucket histogram: one row per
    * occupied power-of-two bucket `(bucket, cnt)` over `valueCol`
    * (non-negative longs — doc token counts, byte sizes, durations).
    * ≤ `maxBits + 1` rows TOTAL regardless of corpus size — the same
    * config-bounded-output property as the count–min cell table and
    * the HLL registers, which is what makes per-shard build + tiny
    * merge ([[logHistMerge]]) the 100 TB deployment. Quantile readout
    * ([[logHistQuantiles]]) has ≤ 2× relative error by construction
    * (the true value and the bucket's upper end differ by < one
    * octave). Null values contribute nothing (the sketch convention);
    * negative values raise.
    */
  def logHistBuild(items: DataFrame, valueCol: String,
      maxBits: Int = 41): DataFrame = {
    require(maxBits >= 1 && maxBits <= 62, s"bad maxBits $maxBits")
    items
      .filter(col(valueCol).isNotNull)
      .select(logBucket(col(valueCol).cast("long"), maxBits).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-group log-bucket histograms `(keyCol, bucket, cnt)` — one
    * pass for ALL groups (the [[hllRegistersBy]] shape); the table is
    * bounded by groups × (maxBits + 1) rows.
    */
  def logHistBuildBy(items: DataFrame, keyCol: String, valueCol: String,
      maxBits: Int = 41): DataFrame = {
    require(maxBits >= 1 && maxBits <= 62, s"bad maxBits $maxBits")
    items
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol),
        logBucket(col(valueCol).cast("long"), maxBits).as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Bucket-wise sum of two histograms (shard merge — exact, order-
    * free, associative; the same contract as [[countMinMerge]], so a
    * stream fold of [[logHistBuild]] keeps ≤ maxBits + 1 rows forever).
    * UNGROUPED histograms only — merging [[logHistBuildBy]] tables
    * through this would collapse the group key; use [[logHistMergeBy]].
    */
  def logHistMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** Per-group bucket-wise sum — the [[logHistMerge]] contract keyed,
    * for [[logHistBuildBy]] tables.
    */
  def logHistMergeBy(a: DataFrame, b: DataFrame,
      keyCol: String): DataFrame =
    a.unionByName(b).groupBy(col(keyCol), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile readout of a [[logHistBuild]] histogram: one row per
    * requested percent `(pct, n_items, rank, bucket, est_hi)` where
    * `rank = ⌈pct·n/100⌉` (INTEGER arithmetic — no float rank can
    * round across an item at any n), `bucket` is the first bucket
    * whose cumulative count reaches the rank, and `est_hi = 2^bucket − 1`
    * is its inclusive upper end — an estimate ≥ the true quantile and
    * within 2× of it. The cumulation window runs over the BUCKET
    * table (≤ maxBits + 1 rows — config-bounded, never corpus-sized).
    * An empty histogram yields no rows.
    */
  def logHistQuantiles(hist: DataFrame, percents: Seq[Int]): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    require(percents.nonEmpty, "no percents")
    require(percents.forall(p => p >= 1 && p <= 100),
      s"percents must be 1..100: $percents")
    val pcts = percents.distinct.sorted.toDF("pct")
    val n = hist.agg(coalesce(sum(col("cnt")), lit(0L)).as("n_items"))
    Ranks.withOrderedPrefixScan(hist, Seq(col("bucket")),
        Seq("cnt" -> "cum"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(pcts))
      .withColumn("rank", expr("(pct * n_items + 99) DIV 100"))
      .filter(col("cum") >= col("rank"))
      .groupBy(col("pct"))
      .agg(first(col("n_items")).as("n_items"),
        first(col("rank")).as("rank"),
        min(col("bucket")).as("bucket"))
      .withColumn("est_hi",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) - 1"))
  }

  /** Per-group quantile readout of a [[logHistBuildBy]] table — the
    * [[logHistQuantiles]] contract with every step keyed (the
    * cumulation window partitions by the group, so it stays bounded
    * PER GROUP and parallel ACROSS groups).
    */
  def logHistQuantilesBy(hist: DataFrame, keyCol: String,
      percents: Seq[Int]): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    require(percents.nonEmpty, "no percents")
    require(percents.forall(p => p >= 1 && p <= 100),
      s"percents must be 1..100: $percents")
    val pcts = percents.distinct.sorted.toDF("pct")
    val n = hist.groupBy(col(keyCol))
      .agg(sum(col("cnt")).as("n_items"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    hist
      .withColumn("cum", sum(col("cnt")).over(wB))
      .join(n, Seq(keyCol))
      .crossJoin(broadcast(pcts))
      .withColumn("rank", expr("(pct * n_items + 99) DIV 100"))
      .filter(col("cum") >= col("rank"))
      .groupBy(col(keyCol), col("pct"))
      .agg(first(col("n_items")).as("n_items"),
        first(col("rank")).as("rank"),
        min(col("bucket")).as("bucket"))
      .withColumn("est_hi",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) - 1"))
  }

  /** One-row distinct-count estimate from a register table:
    * `(m, n_registers_used, reg_sum, hll_estimate)`. The raw estimator
    * `α_m·m²/Σ2^−M_j` (empty registers contribute 2⁰ = 1) switches to
    * linear counting `m·ln(m/V)` in the small range (E ≤ 2.5m with V
    * empty registers > 0) — the published correction; the 2⁶⁴-range
    * correction is irrelevant at long-hash register counts and omitted.
    * `reg_sum` is an integer-exact register checksum for replay.
    */
  def hllEstimate(regs: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"bad p $p (4..16)")
    val m = (1L << p).toDouble
    regs
      .agg(count(lit(1)).as("n_occ"),
        coalesce(sum(pow(lit(2.0), -col("m_j"))), lit(0.0)).as("s_occ"),
        coalesce(sum(col("m_j")), lit(0L)).as("reg_sum"))
      .select(lit((1L << p)).as("m"),
        col("n_occ").as("n_registers_used"), col("reg_sum"),
        round({
          val v = lit(m) - col("n_occ")
          val e = lit(hllAlpha(p) * m * m) / (col("s_occ") + v)
          when(e <= lit(2.5 * m) && v > 0, lit(m) * log(lit(m) / v))
            .otherwise(e)
        }, 4).as("hll_estimate"))
  }

  // ---- KMV (k minimum values / bottom-k) ---------------------------

  /** KMV distinct-count sketch (Bar-Yossef et al. 2002; Beyer et al.
    * 2007) — the k smallest DISTINCT item hashes per group. Where HLL
    * gives distinct counts alone, KMV sketches are SAMPLES: two
    * groups' sketches merge (bottom-k of the union) and support
    * set-intersection estimates, the join-cardinality companion HLL
    * cannot express. State is k longs per group, exactly replayable
    * (integer hashes, integer ranks — no stochastic averaging).
    *
    * Hash = splitmix64∘fnv1a64 (the HLL/count-min family hash);
    * ordering is SIGNED ascending, which equals unsigned order under
    * the +2^63 shift both engines apply when the estimate needs a
    * [0,1) uniform value.
    */
  def kmvSketchBy(items: DataFrame, keyCol: String, itemCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    val h = HashExpressions.splitmix64(
      HashExpressions.fnv1a64(col("__it")))
    items
      .select(col(keyCol).as("key"), col(itemCol).as("__it"))
      .distinct()
      .select(col("key"), h.as("h"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("h"))))
      .filter(col("rank") <= k)
  }

  /** Distinct-count estimate per group: exact `n_kept` when the group
    * never filled its sketch (n_kept < k — the sketch IS the distinct
    * set), else the KMV estimator `(k−1)/u_k` with `u_k` = the k-th
    * smallest hash mapped to [0,1) by the +2^63 shift. Rounded at 4.
    */
  def kmvEstimateBy(sketch: DataFrame, k: Int): DataFrame = {
    val shift = 9.223372036854775808e18 // 2^63, exact in double
    val full = 1.8446744073709551616e19 // 2^64, exact in double
    sketch.groupBy(col("key"))
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rank") === k, col("h"))).as("__hk"))
      .withColumn("dv_est",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) /
            ((col("__hk").cast("double") + shift) / full), 4)))
      .select(col("key"), col("n_kept"), col("dv_est"))
  }

  /** Merge two KMV sketches (bottom-k of the union of distinct
    * hashes) — the shard-parallel form: sketch shards independently,
    * merge cell-free.
    */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    a.select(col("key"), col("h"))
      .union(b.select(col("key"), col("h")))
      .distinct()
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("h"))))
      .filter(col("rank") <= k)

  /** Pairwise set-overlap estimates from grouped KMV sketches — the
    * capability HLL registers cannot express (a register says "how
    * many", a bottom-k sketch says "WHICH k smallest", and membership
    * of a union-sketch hash in both sides estimates the Jaccard).
    * For each key pair (a < b): the union sketch = bottom-k of the two
    * sketches' union; ρ = |union-sketch ∩ both| / |union sketch|;
    * `inter_est = ρ · dv_union`. All joins are hash equi-joins at
    * sketch grain (k rows per key — corpus never touched).
    */
  def kmvOverlapMatrix(sketch: DataFrame, k: Int): DataFrame = {
    val u = sketch.as("a").join(sketch.as("b"),
        col("a.h") === col("b.h") && col("a.key") < col("b.key"))
      .select(col("a.key").as("key_a"), col("b.key").as("key_b"),
        col("a.h").as("h"), lit(1).as("__both"))
    // union sketch per pair: all hashes of either side, bottom-k
    val pairs = sketch.as("a").join(
        sketch.select(col("key").as("key_b")).distinct().as("b"),
        col("a.key") < col("key_b"))
      .select(col("a.key").as("key_a"), col("key_b"), col("h"))
      .union(sketch.as("a").join(
          sketch.select(col("key").as("key_a")).distinct().as("b"),
          col("key_a") < col("a.key"))
        .select(col("key_a"), col("a.key").as("key_b"), col("h")))
      .distinct()
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("key_a"), col("key_b"))
          .orderBy(col("h"))))
      .filter(col("rank") <= k)
    val shift = 9.223372036854775808e18
    val full = 1.8446744073709551616e19
    pairs
      .join(u, Seq("key_a", "key_b", "h"), "left")
      .groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("n_union_kept"),
        sum(coalesce(col("__both"), lit(0))).cast("long").as("n_both"),
        max(when(col("rank") === k, col("h"))).as("__hk"))
      .withColumn("dv_union",
        when(col("n_union_kept") < k, col("n_union_kept").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) /
            ((col("__hk").cast("double") + shift) / full), 4)))
      // inter_est stays UNROUNDED: every operand (two exact integers
      // and the already-4dp-pinned dv_union) is bit-identical across
      // engines, so the product is too — while an explicit round() at
      // a half-way point would expose the engines' different tie rules
      // (measured: 86.31145 → 86.3115 here, 86.3114 in DuckDB)
      .select(col("key_a"), col("key_b"), col("n_union_kept"),
        col("n_both"), col("dv_union"),
        (col("n_both").cast("double") / col("n_union_kept") *
          col("dv_union")).as("inter_est"))
  }
}
