package graft.operators

import graft.functions.Grid
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust (median/MAD) outlier statistics — the distribution-free length
  * and score screens a curation pipeline runs before any mean/stddev
  * profiling, because corpus length distributions are heavy-tailed and a
  * single 100 MB crawl artifact drags a mean-based z-score arbitrarily.
  *
  * The score is the Iglewicz–Hoaglin modified z-score
  * `z = 0.6745 (x - median) / MAD` with their published fallback when
  * MAD degenerates to 0 (more than half the group at the median):
  * `z = (x - median) / (1.253314 * meanAD)`; if meanAD is also 0 the
  * group is constant and nothing is an outlier.
  *
  * 100 TB shape: two per-group aggregations (median, then MAD over the
  * residuals) and two joins back — the group-stats tables are one row
  * per group, so both join-backs broadcast; the row table is scanned
  * twice but never shuffled on the row grain. Exact `percentile` sorts
  * each group's values; at petabyte grain swap `exact = false` to use
  * `approx_percentile` (t-digest, one pass, mergeable) — the gate runs
  * exact so the DuckDB oracle replays bit-for-bit.
  */
object Robust {

  /** [[ewmaControl]]'s internal "no alarm yet" sentinel — OUTSIDE any
    * legitimate t (Long.MinValue); the readout maps it to null.
    */
  private val NoAlarm: Long = Long.MinValue

  private def median(c: Column, exact: Boolean): Column =
    if (exact) percentile(c, lit(0.5))
    else approx_percentile(c, lit(0.5), lit(10000))

  /** Per-row annotation: adds `med`, `mad`, `mod_z` (null for constant
    * groups), and `is_outlier` (`|mod_z| > cutoff`, false for constant
    * groups).
    */
  def annotateOutliers(df: DataFrame, groupCol: String, valueCol: String,
      cutoff: Double = 3.5, exact: Boolean = true): DataFrame = {
    val x = col(valueCol).cast("double")
    val meds = df.groupBy(col(groupCol))
      .agg(median(x, exact).as("med"))
    val withMed = df.join(broadcast(meds), Seq(groupCol))
    val spreads = withMed.groupBy(col(groupCol))
      .agg(
        median(abs(x - col("med")), exact).as("mad"),
        avg(abs(x - col("med"))).as("mean_ad"))
    withMed.join(broadcast(spreads), Seq(groupCol))
      .withColumn("mod_z",
        when(col("mad") > 0.0, lit(0.6745) * (x - col("med")) / col("mad"))
          .when(col("mean_ad") > 0.0,
            (x - col("med")) / (lit(1.253314) * col("mean_ad")))
          .otherwise(lit(null).cast("double")))
      .withColumn("is_outlier",
        coalesce(abs(col("mod_z")) > cutoff, lit(false)))
      .drop("mean_ad")
  }

  /** Per-group robust profile: document count, median, MAD, outlier
    * count at `cutoff`, and the group's max |modified z| — the summary a
    * curation dashboard keys on. Rounded at the 4-decimal replay grid.
    */
  def madProfile(df: DataFrame, groupCol: String, valueCol: String,
      cutoff: Double = 3.5, exact: Boolean = true): DataFrame =
    annotateOutliers(df, groupCol, valueCol, cutoff, exact)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_rows"),
        round(max(col("med")), 4).as("med"),
        round(max(col("mad")), 4).as("mad"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        round(max(abs(col("mod_z"))), 4).as("max_abs_z"))

  /** Burstiness profile: the per-group index of dispersion
    * (variance-to-mean ratio) of hourly event counts over the stream's
    * GLOBAL hour span — Poisson-uniform activity scores ≈ 1, bursty
    * scores ≫ 1, metronomic < 1. Zero hours count (the span is the
    * denominator), but never materialize: with `Σc` and `Σc²` over the
    * ACTIVE hours only, `mean = Σc/H` and
    * `var = Σc²/H − mean²` are exact over the full span. All sums are
    * integers; the two divisions are the only float ops, mirrored
    * verbatim in the oracle.
    *
    * Shape: one (group, hour) partial count, one group-grain
    * aggregate, one broadcast 1-row span fact.
    */
  /** Shannon entropy of a categorical mix per group (nats), plus the
    * normalized form (entropy / ln(distinct categories), 0 for a
    * single-category group): "how varied is this user's behavior /
    * this source's section mix". Exact integer count ratios; ln is
    * the only libm call, mirrored verbatim in the oracle. One
    * (group, category) partial count + one group-grain fold.
    */
  def entropyProfile(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(catCol))
      .agg(count(lit(1)).as("c"))
    counts
      .groupBy(col(groupCol))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_cats"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("__en_clc"))
      .withColumn("entropy",
        round(log(col("n").cast("double")) -
          col("__en_clc") / col("n"), 4))
      .withColumn("entropy_norm",
        when(col("n_cats") > 1,
          round((log(col("n").cast("double")) -
            col("__en_clc") / col("n")) /
            log(col("n_cats").cast("double")), 4))
          .otherwise(0.0))
      .select(col(groupCol), col("n"), col("n_cats"), col("entropy"),
        col("entropy_norm"))
  }

  /** One-sided CUSUM drift detection over an ordered count series —
    * the sequential change-point statistic in its closed WINDOW form:
    * `s_t = max(0, s_{t−1} + (x_t − k))` telescopes to
    * `s_t = P_t − min_{0 ≤ j ≤ t} P_j` (the empty prefix `P_0 = 0`
    * included) with `P` the running prefix sum of
    * `(x − k)`, so two deterministic running windows (an ordered
    * prefix sum and a running min) replace the recurrence — no
    * iterative state, engine-exact because BOTH engines evaluate the
    * ordered frames in the same sequence. `k` (the allowance) is
    * `global mean + slack·global stddev`; rows where `s_t ≥ h·stddev`
    * flag drift.
    *
    * The window is ordered over the WHOLE series per group — correct
    * for per-key monitoring (the per-group series length is the time
    * horizon, not the corpus).
    */
  /** Poisson burst detection — the SPIKE detector beside
    * [[cusumDrift]]'s slow-drift alarm: per (key, period) counts, a
    * TRAILING-window baseline mean (the period itself excluded — a
    * spike must not inflate its own baseline), and the Poisson
    * normal approximation `z = (c − μ)/√μ`. Periods with fewer than
    * `minBaseline` trailing observations stay unscored (cold start
    * is not a burst). One aggregation to (key, period) grain, one
    * keyed window — nothing row-grain past the count table.
    */
  def poissonBursts(df: DataFrame, keyCol: String, periodCol: String,
      window: Int = 24, minBaseline: Int = 8,
      threshold: Double = 4.0): DataFrame = {
    require(window >= 1 && minBaseline >= 1 && threshold > 0,
      s"bad bursts($window, $minBaseline, $threshold)")
    val counts = df.groupBy(col(keyCol), col(periodCol).cast("long")
        .as("period"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("period"))
      .rowsBetween(-window, -1)
    counts
      .withColumn("__bl_n", count(lit(1)).over(w))
      .withColumn("mu", round(sum(col("n")).over(w).cast("double") /
        col("__bl_n").cast("double"), 6))
      .filter(col("__bl_n") >= minBaseline)
      .withColumn("z", round((col("n") - col("mu")) / sqrt(col("mu")),
        4))
      .withColumn("is_burst", col("z") >= threshold)
      .select(col(keyCol), col("period"), col("n"), col("mu"),
        col("z"), col("is_burst"))
  }

  def cusumDrift(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, slack: Double = 0.5,
      threshold: Double = 4.0, scale: Int = 6): DataFrame = {
    require(scale >= 0 && scale <= 6, s"bad scale $scale")
    val p = math.pow(10.0, scale)
    // variance clamped at 0 before the sqrt: float rounding can push
    // avg(x²)−avg(x)² a hair negative on (near-)constant series, which
    // would NaN k/cusum/drift silently. A truly constant series gets
    // sd = 0 → cusum tracks the (zero) excursions and drift is false.
    val stats = df.agg(
      avg(col(valueCol)).as("__cu_mu"),
      sqrt(greatest(lit(0.0),
        avg(col(valueCol) * col(valueCol)) -
          avg(col(valueCol)) * avg(col(valueCol)))).as("__cu_sd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(orderCol))
    val run = w.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, 0)
    df.crossJoin(broadcast(stats))
      .withColumn("__cu_k", col("__cu_mu") + lit(slack) * col("__cu_sd"))
      // P_i = Σx − i·k computed from an EXACT scaled-integer prefix
      // (the changePoint scale contract): a float running sum of
      // (x − k) is not portable across engines (Spark folds
      // sequentially, DuckDB's window sum is a segment tree), but an
      // integer prefix is order-free and P_i is then 3 deterministic
      // flops (÷10^s, i·k, −) PROVIDED its inputs are exact. That is
      // the full scale contract, same wording as changePoint's:
      // (a) valueCol must sit ON the declared 10^-scale grid — the
      // scaler floor(x·10^s + 0.5) silently QUANTIZES off-grid
      // values, changing the statistic, and (b) k = mu + slack·sd
      // comes from unordered float avg/sqrt aggregates, so k itself
      // is engine-exact only when those aggregates are (integral or
      // grid-exact values whose sums stay below 2^53 — q183 feeds
      // integer counts, where avg's sum is exact and every engine
      // computes the same k). Off-grid fractional valueCol keeps the
      // prefix device order-free but makes mu/sd (hence k, hence the
      // cusum excursions) partial-sum-order-dependent again.
      .withColumn("__cu_sc",
        floor(col(valueCol).cast("double") * p + 0.5)
          .cast("decimal(20,0)"))
      .withColumn("__cu_i", row_number().over(w))
      .withColumn("__cu_p",
        sum(col("__cu_sc")).over(run).cast("double") / lit(p) -
          col("__cu_i").cast("double") * col("__cu_k"))
      // the empty prefix P_0 = 0 participates in the min (s_1 must be
      // max(0, x_1 - k), not 0)
      .withColumn("__cu_minp",
        least(lit(0.0), min(col("__cu_p")).over(run)))
      .withColumn("cusum", Grid.snap(
        greatest(col("__cu_p") - col("__cu_minp"), lit(0.0)), 4))
      .withColumn("drift",
        col("__cu_sd") > 0 &&
          col("__cu_p") - col("__cu_minp") >=
            lit(threshold) * col("__cu_sd"))
      .select(col(groupCol), col(orderCol), col(valueCol).as("x"),
        col("cusum"), col("drift"))
  }

  /** Weighted median per group, integer-exact: the smallest value
    * whose cumulative weight reaches half the group's total
    * (`2·cumw ≥ totw` on integer weights — no float percentile, no
    * interpolation, deterministic under ties via the (value, id)
    * order). The "typical doc by TOKEN MASS, not by doc count"
    * statistic — a corpus dominated by shorts has a very different
    * token-weighted median than its plain median. One group-key window
    * + one aggregate.
    */
  def weightedMedian(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, weightCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol), col(idCol))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__wm_cum", sum(col(weightCol)).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .withColumn("__wm_tot", sum(col(weightCol)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol))))
      .filter(col("__wm_cum") * 2 >= col("__wm_tot"))
      .groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("weighted_median"),
        any_value(col("__wm_tot")).as("total_weight"))
  }

  /** Gini concentration per group over non-negative values — "how
    * concentrated is this market/source": 0 = perfectly even,
    * → 1 = one member holds everything. The sorted-rank identity
    * `G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` with ranks by
    * (value, id) — one window + one aggregate at group grain; a
    * single-member group scores 0 by the identity, an all-zero group
    * returns null.
    */
  def giniProfile(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol), col(idCol))
    df.filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .withColumn("__gn_i", row_number().over(w).cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol)).as("__gn_s"),
        sum(col("__gn_i") * col(valueCol)).as("__gn_si"))
      .withColumn("gini",
        when(col("__gn_s") > 0,
          round((lit(2.0) * col("__gn_si") -
            (col("n") + 1) * col("__gn_s")) /
            (col("n") * col("__gn_s")), 4)))
      .select(col(groupCol), col("n"), col("gini"))
  }

  def dispersionProfile(df: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val hourUs = 3600000000L
    val us = unix_micros(col(tsCol))
    val hour = ((us - pmod(us, lit(hourUs))) / lit(hourUs)).cast("long")
    val span = df.agg(
      (max(hour) - min(hour) + 1).as("__dp_h"))
    val counts = df
      .withColumn("__dp_hour", hour)
      .groupBy(col(groupCol), col("__dp_hour"))
      .agg(count(lit(1)).as("c"))
    counts
      .groupBy(col(groupCol))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("active_hours"),
        sum(col("c") * col("c")).as("__dp_ss"))
      .crossJoin(broadcast(span))
      .withColumn("__dp_mean",
        col("n_events").cast("double") / col("__dp_h"))
      .withColumn("dispersion",
        round((col("__dp_ss").cast("double") / col("__dp_h") -
          col("__dp_mean") * col("__dp_mean")) / col("__dp_mean"), 4))
      .select(col(groupCol), col("n_events"), col("active_hours"),
        col("dispersion"))
  }

  /** Winsorized group profile — the robust mean under heavy tails:
    * values below the p-th / above the (100−p)-th percentile are
    * CLAMPED to the boundary (not dropped — trimming changes n,
    * winsorizing keeps it). Percentile boundaries are the
    * nearest-rank-ceiling order statistics `rank = ⌈p·n/100⌉` in
    * INTEGER arithmetic on a (value, id)-deterministic rank, so both
    * engines pick the identical boundary VALUES — no float percentile
    * estimator to disagree over. One keyed window pass at group grain
    * (the [[madProfile]] shape), one bounded boundary join-back.
    */
  def winsorizedProfile(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, pctLow: Int = 5, pctHigh: Int = 95): DataFrame = {
    require(0 < pctLow && pctLow < pctHigh && pctHigh <= 100,
      s"bad percentile bounds [$pctLow, $pctHigh]")
    val ranked = df
      .select(col(groupCol).as("grp"), col(idCol).as("__id"),
        col(valueCol).cast("double").as("__v"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("__v"), col("__id"))))
      .withColumn("__nn", count(lit(1)).over(
        Window.partitionBy(col("grp"))))
    val loRank = (col("__nn") * pctLow + 99).cast("long") / lit(100L)
    val hiRank = (col("__nn") * pctHigh + 99).cast("long") / lit(100L)
    val bounds = ranked.groupBy(col("grp"))
      .agg(max(when(col("__rn") === loRank.cast("long"), col("__v")))
          .as("lo"),
        max(when(col("__rn") === hiRank.cast("long"), col("__v")))
          .as("hi"))
    ranked.join(bounds, Seq("grp"))
      .withColumn("__w", greatest(col("lo"), least(col("hi"), col("__v"))))
      .groupBy(col("grp"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__v")) / count(lit(1)), 4).as("mean_raw"),
        round(sum(col("__w")) / count(lit(1)), 4).as("mean_winsorized"))
      .select(col("grp"), col("n"), col("lo"), col("hi"),
        col("mean_raw"), col("mean_winsorized"))
  }

  /** [[winsorizedProfile]] with SKETCHED percentile boundaries — the
    * bounded-state variant the 100 TB deployment wants when the
    * boundary need not be the exact order statistic: lo/hi come from a
    * [[QuantileSketch.sampleRegistersBy]] bottom-k uniform sample
    * (rank error O(√(ln(1/δ)/k)) on the BOUNDARY — the clamp pass and
    * the means stay exact for whatever boundary is chosen). What the
    * sketch buys over the exact ranks: the register table can be built
    * per shard and MERGED (never re-shuffling history), persisted once
    * and read out at any percentile later, and the boundary derivation
    * touches k rows per group instead of ranking every row. Same
    * output shape as [[winsorizedProfile]]; groups smaller than k get
    * the EXACT boundaries (the sample is the group). Null values are
    * dropped up front (the register build skips them anyway — keeping
    * them in the mean pass would divide a null-skipping sum by an
    * all-rows count); [[winsorizedProfile]] assumes a non-null value
    * column, where the two devices agree.
    */
  def winsorizedProfileSketch(df: DataFrame, groupCol: String,
      idCol: String, valueCol: String, pctLow: Int = 5,
      pctHigh: Int = 95, k: Int = 256): DataFrame = {
    require(0 < pctLow && pctLow < pctHigh && pctHigh <= 100,
      s"bad percentile bounds [$pctLow, $pctHigh]")
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        col(idCol).as("__id"), col(valueCol).cast("double").as("__v"))
    val qs = QuantileSketch.sampleQuantilesBy(
      QuantileSketch.sampleRegistersBy(vals, "grp", "__id", "__v", k),
      Seq(pctLow, pctHigh))
    val bounds = qs.groupBy(col("key").as("grp"))
      .agg(max(when(col("pct") === pctLow, col("q_est"))).as("lo"),
        max(when(col("pct") === pctHigh, col("q_est"))).as("hi"))
    vals.join(broadcast(bounds), Seq("grp"))
      .withColumn("__w", greatest(col("lo"), least(col("hi"), col("__v"))))
      .groupBy(col("grp"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__v")) / count(lit(1)), 4).as("mean_raw"),
        round(sum(col("__w")) / count(lit(1)), 4).as("mean_winsorized"))
      .select(col("grp"), col("n"), col("lo"), col("hi"),
        col("mean_raw"), col("mean_winsorized"))
  }

  /** Offline single-changepoint localization per key (mean-shift):
    * the CUSUM-argmax estimator — the split k maximizing
    * `|S_k − (k/n)·S_n|` (the binary-segmentation scoring; [[cusumDrift]]
    * DETECTS drift online, this LOCATES the break after the fact).
    * One pass of keyed windows: running sum, score, argmax (earliest-k
    * tie-break), then the two segment means. Output:
    * `(key, n, t_split, score, mean_before, mean_after, delta)` where
    * the split is the LAST point of the left segment. Keys need ≥ 2
    * points; the argmax excludes k = n (an empty right segment says
    * nothing about a break).
    *
    * Replay discipline: `scale` declares the input's decimal grid
    * (2 for currency, 0 for counts — the [[Seasonal.decompose]] scale
    * contract). The prefix sums `S_k` then accumulate EXACT scaled
    * integers (decimal, so no overflow until 1e38), which makes them
    * ORDER-FREE: a float running sum is not portable across engines
    * even when both order by t, because the accumulation TREE differs
    * (Spark folds sequentially, DuckDB's window sum is a pairwise
    * segment tree — last-ulp drift on inexact doubles that survives
    * any output snap). Integer addition is associative, so the exact
    * sums agree bit-for-bit; the score numerator `|S_k·n − i·S_n|` is
    * one exact integer, and every double in the output is ONE cast +
    * ONE division away from exact integers — engine-identical.
    */
  def changePoint(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, scale: Int = 6): DataFrame = {
    require(scale >= 0 && scale <= 6, s"bad scale $scale")
    import org.apache.spark.sql.expressions.Window
    val p = math.pow(10.0, scale)
    val wk = Window.partitionBy(col("__k"))
    val wo = wk.orderBy(col("__t"))
    val scored = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__y"))
      // the engine-exact scaler (floor(y·10^s + 0.5)); decimal(20,0)
      // so the window sums widen to decimal(30,0) without wraparound
      .withColumn("__sc",
        floor(col("__y") * p + 0.5).cast("decimal(20,0)"))
      .withColumn("__i", row_number().over(wo))
      .withColumn("__sk", sum(col("__sc")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wk))
      // exact ints are order-free, so S_n is a plain partition sum
      .withColumn("__sn", sum(col("__sc")).over(wk))
      .filter(col("__n") >= 2 && col("__i") < col("__n"))
      // |S_k·n − i·S_n| stays exact in decimal; the one cast to
      // double rounds the SAME integer to the SAME nearest double on
      // every engine, and the snap pins the division readout
      .withColumn("__num", abs(col("__sk") * col("__n") -
        col("__i").cast("long") * col("__sn")))
      .withColumn("__score", Grid.snap(col("__num").cast("double") /
        (col("__n").cast("double") * lit(p))))
    val best = scored
      .withColumn("__rn", row_number().over(
        wk.orderBy(col("__score").desc, col("__i"))))
      .filter(col("__rn") === 1)
      .select(col("__k"), col("__n").as("n"), col("__t").as("t_split"),
        col("__i").as("__ki"), col("__score").as("score"),
        col("__sk").as("__skb"), col("__sn").as("__snb"))
    best
      .select(col("__k").as(keyCol), col("n"), col("t_split"),
        col("score"),
        Grid.snap(col("__skb").cast("double") /
          (col("__ki").cast("double") * lit(p)), 4).as("mean_before"),
        Grid.snap((col("__snb") - col("__skb")).cast("double") /
          ((col("n") - col("__ki")).cast("double") * lit(p)), 4)
          .as("mean_after"))
      .withColumn("delta",
        Grid.snap(col("mean_after") - col("mean_before"), 4))
  }

  /** Theil–Sen robust trend per key — the median-of-pairwise-slopes
    * estimator (≈29% breakdown point): the robust complement to the
    * grouped OLS trend ([[Regression]]), immune to the outlier days
    * that swing a least-squares slope. Per key: points cap at the
    * first `maxPoints` by (x, y) — deterministic, and the cap is what
    * bounds the per-key pair space at `maxPoints²/2` however hot the
    * key — pairs with distinct x get a 1e-6-grid-rounded slope, the
    * LOWER-median slope is read at nearest rank (slope, i, j order —
    * fully replayable), and the intercept is the median residual
    * `y − m·x` at the same convention. Keys with no distinct-x pair
    * drop (no trend is estimable). All windows are keyed; nothing is
    * corpus-grain.
    */
  def theilSenTrend(df: DataFrame, keyCol: String, xCol: String,
      yCol: String, maxPoints: Int = 64): DataFrame = {
    require(maxPoints >= 2, s"bad maxPoints $maxPoints")
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy(col("__k"))
      .orderBy(col("__x"), col("__y"))
    val pts = graft.CacheScope.register(df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(keyCol).as("__k"), col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .withColumn("__i", row_number().over(wp))
      .filter(col("__i") <= maxPoints)
      .persist())
    val pairs = pts.as("a").join(pts.as("b"),
        col("a.__k") === col("b.__k") && col("a.__i") < col("b.__i") &&
          col("a.__x") =!= col("b.__x"))
      .select(col("a.__k").as("__k"), col("a.__i").as("__ai"),
        col("b.__i").as("__bi"),
        round((col("b.__y") - col("a.__y")) /
          (col("b.__x") - col("a.__x")), 6).as("__m"))
    val wm = Window.partitionBy(col("__k"))
      .orderBy(col("__m"), col("__ai"), col("__bi"))
    val med = pairs
      .withColumn("__rn", row_number().over(wm))
      .withColumn("__np", count(lit(1)).over(Window.partitionBy(col("__k"))))
      .filter(col("__rn") === expr("(__np + 1) DIV 2"))
      .select(col("__k"), col("__m").as("slope"),
        col("__np").as("n_pairs"))
    val res = pts.join(med, Seq("__k"))
      .withColumn("__r", round(col("__y") - col("slope") * col("__x"), 6))
    val wr = Window.partitionBy(col("__k")).orderBy(col("__r"), col("__i"))
    res
      .withColumn("__rr", row_number().over(wr))
      .withColumn("__npt", count(lit(1)).over(Window.partitionBy(col("__k"))))
      .filter(col("__rr") === expr("(__npt + 1) DIV 2"))
      .select(col("__k").as(keyCol), col("__npt").as("n_points"),
        col("n_pairs"), col("slope"), col("__r").as("intercept"))
  }

  /** Benford first-digit audit — the fraud/synthetic-data smell test:
    * naturally occurring multi-scale amounts follow
    * P(d) = log10(1 + 1/d); uniform or fabricated values do not.
    * First digit via the integer-part STRING head (no float
    * log10/pow round-trip to disagree at decade boundaries); the
    * digit table is ≤ 9 rows, windows run over it only. Rows < 1
    * are excluded by contract (their first significant digit lives
    * below the integer point).
    */
  /** EWMA control chart (Roberts 1959; the SPC standard for small
    * persistent shifts CUSUM's all-or-nothing reset misses): per key,
    * `z_t = λ·y_t + (1−λ)·z_{t−1}` folds once through the ordered
    * series from `z_0 = μ̂`, and a point alarms when
    * `|z_t − μ̂| > L·σ̂·sqrt(λ/(2−λ))` (the asymptotic control limit —
    * one engine-exact sqrt of a constant, no per-t variance ladder).
    *
    * Replay discipline: μ̂ and σ̂ come from EXPLICIT exact sums
    * (Σy, Σy², n — order-free when `y` is integral, e.g. event
    * counts; a float `y` inherits the house aggregate convention),
    * snapped; the fold re-snaps `z` per step on the
    * [[graft.functions.Grid]]; the alarm compare runs on grid values.
    * One groupBy collects each key's ordered series; the fold is an
    * aggregate HOF inside codegen — the [[Forecast]] execution shape.
    * Returns `(key, n_obs, mu0, sigma0, limit, ewma_final, n_alarms,
    * first_alarm_t)` (first_alarm_t null when in control; keys with
    * < 2 points drop — no spread is estimable).
    */
  def ewmaControl(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, lambda: Double, l: Double): DataFrame = {
    require(lambda > 0 && lambda < 1, s"bad lambda $lambda")
    require(l > 0, s"bad L $l")
    val zNew = Grid.snapSql(s"$lambda * x.y + ${1 - lambda} * acc.z")
    df.filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"),
        sum(col(valueCol).cast("double")).as("__sy"),
        sum(col(valueCol).cast("double") * col(valueCol).cast("double"))
          .as("__syy"),
        sort_array(collect_list(struct(col(tCol).cast("long").as("t"),
          col(valueCol).cast("double").as("y")))).as("__s"))
      .filter(col("n_obs") >= 2)
      .withColumn("mu0", Grid.snap(col("__sy") / col("n_obs")))
      // clamp at 0: float cancellation on a near-constant series can
      // leave the variance a tiny NEGATIVE -> sqrt = NaN, which the
      // Spark-side snap would silently floor-to-0 while the oracle
      // propagates NULL (the Grid NaN seam) — greatest pins both
      .withColumn("sigma0", Grid.snap(sqrt(greatest(lit(0.0),
        (col("__syy") - col("__sy") * col("__sy") / col("n_obs")) /
          (col("n_obs") - 1)))))
      .withColumn("limit", Grid.snap(col("sigma0") *
        lit(l * math.sqrt(lambda / (2 - lambda)))))
      // "no alarm yet" is Long.MinValue INTERNALLY (an `ft >= 0` test
      // would treat a legitimate alarm at a negative calendar offset
      // as still-unset and overwrite it); the readout maps it to null
      .withColumn("__st", expr(
        s"""aggregate(__s,
           |  named_struct('z', mu0, 'a', 0L, 'ft', $NoAlarm),
           |  (acc, x) -> named_struct(
           |    'z', $zNew,
           |    'a', acc.a + IF(abs(($zNew) - mu0) > limit, 1L, 0L),
           |    'ft', IF(acc.ft <> $NoAlarm, acc.ft,
           |      IF(abs(($zNew) - mu0) > limit, x.t, $NoAlarm))))"""
          .stripMargin))
      .select(col(keyCol), col("n_obs"), col("mu0"), col("sigma0"),
        col("limit"), col("__st.z").as("ewma_final"),
        col("__st.a").as("n_alarms"),
        when(col("__st.ft") =!= NoAlarm, col("__st.ft"))
          .as("first_alarm_t"))
  }

  /** PHASE-II monitoring — resume [[ewmaControl]] from persisted
    * state with the calibration PINNED (the SPC discipline: phase I
    * estimates μ̂/σ̂/limit once, phase II monitors against them —
    * re-estimating on live data would let a drift recalibrate itself
    * invisible). Each key's new points (strictly later than the
    * state's horizon, the incremental-fold contract) continue the
    * smoothing from the stored `ewma_final`; alarms accumulate;
    * `first_alarm_t` keeps its earliest. Keys with no new points pass
    * through; NEW keys calibrate phase-I on their own batch via
    * [[ewmaControl]]. Given the pinned limits the walk is a pure left
    * fold, so `resume(resume(st, B1), B2) == resume(st, B1 ++ B2)`
    * EXACTLY (spec'd) — the [[Forecast.holtLinearFrom]] law, with
    * calibration pinning instead of full-history equivalence. Streamed:
    * a [[graft.streaming.Streams.fold]] whose first batch calibrates
    * through [[ewmaControl]] and every later batch resumes here
    * (ControlStreamSpec).
    */
  def ewmaControlFrom(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, state: DataFrame, lambda: Double,
      l: Double): DataFrame = {
    require(lambda > 0 && lambda < 1, s"bad lambda $lambda")
    require(l > 0, s"bad L $l")
    val zNew = Grid.snapSql(s"$lambda * x.y + ${1 - lambda} * acc.z")
    val st = state.select(col(keyCol), col("n_obs").as("__pn"),
      col("mu0").as("__mu"), col("sigma0").as("__sg"),
      col("limit").as("__lim"), col("ewma_final").as("__z"),
      col("n_alarms").as("__na"),
      coalesce(col("first_alarm_t"), lit(NoAlarm)).as("__ft"))
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("__bn"),
        sort_array(collect_list(struct(col(tCol).cast("long").as("t"),
          col(valueCol).cast("double").as("y")))).as("__s"))
    val resumed = series.join(st, Seq(keyCol))
      .withColumn("__st2", expr(
        s"""aggregate(__s,
           |  named_struct('z', __z, 'a', __na, 'ft', __ft),
           |  (acc, x) -> named_struct(
           |    'z', $zNew,
           |    'a', acc.a + IF(abs(($zNew) - __mu) > __lim, 1L, 0L),
           |    'ft', IF(acc.ft <> $NoAlarm, acc.ft,
           |      IF(abs(($zNew) - __mu) > __lim, x.t, $NoAlarm))))"""
          .stripMargin))
      .select(col(keyCol), (col("__pn") + col("__bn")).as("n_obs"),
        col("__mu").as("mu0"), col("__sg").as("sigma0"),
        col("__lim").as("limit"), col("__st2.z").as("ewma_final"),
        col("__st2.a").as("n_alarms"),
        when(col("__st2.ft") =!= NoAlarm, col("__st2.ft"))
          .as("first_alarm_t"))
    val idle = st.join(series.select(col(keyCol)), Seq(keyCol),
        "left_anti")
      .select(col(keyCol), col("__pn").as("n_obs"),
        col("__mu").as("mu0"), col("__sg").as("sigma0"),
        col("__lim").as("limit"), col("__z").as("ewma_final"),
        col("__na").as("n_alarms"),
        when(col("__ft") =!= NoAlarm, col("__ft"))
          .as("first_alarm_t"))
    val fresh = ewmaControl(
      df.join(st.select(col(keyCol)), Seq(keyCol), "left_anti"),
      keyCol, tCol, valueCol, lambda, l)
    resumed.unionByName(idle).unionByName(fresh)
  }

  /** Mann–Kendall trend test (Mann 1945, Kendall's tau form) — the
    * nonparametric IS-there-a-trend companion to [[theilSenTrend]]'s
    * HOW-steep: per key, `S = Σ_{i<j} sgn(y_j − y_i)` over time order,
    * tie-corrected variance `(n(n−1)(2n+5) − Σt(t−1)(2t+5))/18`, and
    * the continuity-corrected normal z. Distribution-free — the
    * heavy-tailed revenue series that breaks an OLS slope test.
    *
    * Engine-exact by construction: S, the pair count, and both
    * variance numerators are exact longs; the only float ops are one
    * division, one sqrt, and the final snapped z. Pair space caps at
    * `maxPoints` per key via the [[theilSenTrend]] deterministic
    * row_number truncation (bounded-series contract). Returns
    * `(key, n_obs, s_stat, n_pairs, var_s, z, trend)` — z null (and
    * trend `no_trend`) when the variance degenerates to 0.
    */
  def mannKendall(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, maxPoints: Int = 1024): DataFrame = {
    require(maxPoints >= 3, s"bad maxPoints $maxPoints")
    val wp = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__y"))
    val pts = graft.CacheScope.register(df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__y"))
      .withColumn("__i", row_number().over(wp))
      .filter(col("__i") <= maxPoints)
      .persist())
    val s = pts.as("a").join(pts.as("b"),
        col("a.__k") === col("b.__k") && col("a.__i") < col("b.__i"))
      .select(col("a.__k").as("__k"),
        when(col("b.__y") > col("a.__y"), 1L)
          .when(col("b.__y") < col("a.__y"), -1L)
          .otherwise(0L).as("__sg"))
      .groupBy(col("__k"))
      .agg(sum(col("__sg")).as("s_stat"),
        count(lit(1)).as("n_pairs"))
    val ties = pts.groupBy(col("__k"), col("__y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__k"))
      .agg(sum(col("__t") * (col("__t") - 1L) *
        (lit(2L) * col("__t") + 5L)).as("__tc"),
        sum(col("__t")).as("n_obs"))
    val z = (col("s_stat") +
      when(col("s_stat") > 0L, -1L).when(col("s_stat") < 0L, 1L)
        .otherwise(0L)).cast("double") / sqrt(col("var_s"))
    s.join(ties, Seq("__k"))
      .filter(col("n_obs") >= 3)
      .withColumn("var_s",
        (col("n_obs") * (col("n_obs") - 1L) *
          (lit(2L) * col("n_obs") + 5L) - col("__tc")).cast("double") /
          18.0)
      .withColumn("z", Grid.snap(when(col("var_s") > 0.0, z), 4))
      .select(col("__k").as(keyCol), col("n_obs"), col("s_stat"),
        col("n_pairs"), Grid.snap(col("var_s")).as("var_s"), col("z"),
        when(col("z").isNull, "no_trend")
          .when(col("z") > 1.96, "increasing")
          .when(col("z") < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
  }

  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val d = df.filter(col(valueCol) >= 1)
      .withColumn("digit",
        substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
          .cast("int"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    d.crossJoin(broadcast(d.agg(sum(col("n")).as("__tot"))))
      .select(col("digit"), col("n"),
        round(col("n") / col("__tot").cast("double"), 6).as("frac"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("benford_p"),
        round(col("n") / col("__tot").cast("double") -
          log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("dev"))
  }

  /** Mahalanobis-distance multivariate outliers over EXACTLY THREE
    * integer-valued feature columns — the correlation-aware
    * complement of the per-column modified-z screens above: a row far
    * from the mean ALONG the data's correlation structure scores high
    * even when every marginal looks ordinary (and vice versa — a
    * point inside a correlated cloud is not flagged just for being
    * large). `d² = (x−μ)ᵀ Σ⁻¹ (x−μ)`, Σ the sample covariance,
    * closed-form 3×3 adjugate inverse.
    *
    * Replay discipline: features must be INTEGER-VALUED (counts,
    * cents — the caller scales to the grid; a cheap runtime check for
    * fractional columns doesn't exist, so this is a documented
    * contract): all ten moment sums (N, Σxᵢ, Σxᵢxⱼ) then accumulate
    * as exact decimal(38,0) integers — order-free on any engine — and
    * every downstream double (μ, covariance entries, adjugate,
    * determinant, d²) is a FIXED expression tree of casts of those
    * exact integers, written in lockstep with the oracle SQL, so both
    * engines run the identical IEEE program. d² snaps at 1e-6 and the
    * readout ranks on the snapped grid with an id tie-break.
    *
    * 100 TB shape: ONE aggregation to a single moment row (broadcast
    * back), then a map-only d² projection — no window, no driver
    * loop, no second pass. Degenerate covariance (|det| below 1e-9,
    * e.g. a constant or collinear feature) yields an empty frame (no
    * distance is defined) rather than exploding 1/det.
    *
    * Output: (idCol, f1, f2, f3, d2) — d2 snapped 4 dp.
    */
  def mahalanobis3(df: DataFrame, idCol: String, f1: String,
      f2: String, f3: String): DataFrame = {
    val d19 = "decimal(19,0)"
    def dec(c: String) = col(c).cast(d19)
    val m = df.agg(
      count(lit(1)).cast("double").as("n"),
      sum(dec(f1)).as("s1"), sum(dec(f2)).as("s2"),
      sum(dec(f3)).as("s3"),
      sum(dec(f1) * dec(f1)).as("s11"),
      sum(dec(f2) * dec(f2)).as("s22"),
      sum(dec(f3) * dec(f3)).as("s33"),
      sum(dec(f1) * dec(f2)).as("s12"),
      sum(dec(f1) * dec(f3)).as("s13"),
      sum(dec(f2) * dec(f3)).as("s23"))
    def cov(sij: String, si: String, sj: String) =
      (col(sij).cast("double") -
        col(si).cast("double") * col(sj).cast("double") / col("n")) /
        (col("n") - lit(1.0))
    val withCov = m
      .withColumn("ca", cov("s11", "s1", "s1"))
      .withColumn("cb", cov("s12", "s1", "s2"))
      .withColumn("cc", cov("s13", "s1", "s3"))
      .withColumn("cd", cov("s22", "s2", "s2"))
      .withColumn("ce", cov("s23", "s2", "s3"))
      .withColumn("cf", cov("s33", "s3", "s3"))
      // symmetric 3x3 [[a,b,c],[b,d,e],[c,e,f]]: adjugate + det
      .withColumn("m11", col("cd") * col("cf") - col("ce") * col("ce"))
      .withColumn("m12", col("cc") * col("ce") - col("cb") * col("cf"))
      .withColumn("m13", col("cb") * col("ce") - col("cc") * col("cd"))
      .withColumn("m22", col("ca") * col("cf") - col("cc") * col("cc"))
      .withColumn("m23", col("cb") * col("cc") - col("ca") * col("ce"))
      .withColumn("m33", col("ca") * col("cd") - col("cb") * col("cb"))
      .withColumn("det", col("ca") * col("m11") +
        col("cb") * col("m12") + col("cc") * col("m13"))
    df.crossJoin(broadcast(withCov))
      .filter(abs(col("det")) > 1e-9)
      .withColumn("__y1",
        col(f1).cast("double") - col("s1").cast("double") / col("n"))
      .withColumn("__y2",
        col(f2).cast("double") - col("s2").cast("double") / col("n"))
      .withColumn("__y3",
        col(f3).cast("double") - col("s3").cast("double") / col("n"))
      .withColumn("d2", Grid.snap(
        (col("m11") * col("__y1") * col("__y1") +
          col("m22") * col("__y2") * col("__y2") +
          col("m33") * col("__y3") * col("__y3") +
          lit(2.0) * (col("m12") * col("__y1") * col("__y2") +
            col("m13") * col("__y1") * col("__y3") +
            col("m23") * col("__y2") * col("__y3"))) / col("det"), 4))
      .select(col(idCol), col(f1), col(f2), col(f3), col("d2"))
  }

  /** Page–Hinkley ONLINE changepoint detector per key — the streaming
    * complement to the offline [[changePoint]] localizer: an O(1)-state
    * sequential test that raises an alarm WHILE the series is arriving
    * (Page 1954; the standard drift detector in river/MOA). State per
    * key: running count/sum, the cumulative deviation
    * `m_t = Σ_{j≤t} (x_j − x̄_j − δ)` (x̄_j the running mean THROUGH j,
    * δ the tolerated slack), its running minimum M_t (seeded at m_0 = 0),
    * and the excursion `PH_t = m_t − M_t`; alarm when `PH_t > λ`.
    *
    * Replay discipline: the per-key series folds ONCE, in t-order,
    * through an aggregate HOF (same device as [[Forecast.holtLinear]]):
    * count/sum ride in the accumulator as raw doubles — exact for
    * integral x and otherwise bit-identical on any engine folding the
    * same ordered list sequentially (`aggregate` here, `list_reduce` in
    * DuckDB — sequential left folds by definition, so no accumulation-
    * tree divergence is possible) — and `m` re-snaps to the 1e-6 grid
    * each step so the trajectory is a pure function of grid values.
    * δ and λ embed via [[Grid.lit17]] so both engines fold from the
    * same constant bits.
    *
    * 100 TB shape: one partial-agg shuffle to (key, series), then the
    * fold runs inside codegen per key — no window, no driver loop. The
    * fold STATE is O(1) per key, but this batch/replay form first
    * materializes each key's full ordered series in ONE aggregate —
    * **O(series-length) memory per key**, the house replay-fold
    * device's real contract (holtLinear / holtWinters / changePoint
    * share it): it is for BOUNDED series grains (hourly/daily keys —
    * ≤ ~10⁵ points even for years), NOT for unbounded event streams.
    * The bound is CHECKED loudly per key (`maxPoints`, default 2²⁰ ≈
    * 1M points ≈ tens of MB per key — raise it only with a memory
    * budget, the q202 maxStates discipline); for genuinely unbounded
    * series use the STREAMING form
    * ([[graft.streaming.CusumStream.pageHinkley]]), which holds true
    * O(1) state. The alarm time is the FIRST t whose excursion exceeds
    * λ (sentinel −1 while no alarm, surfaced as null).
    *
    * Output: (key, n, mean, ph, drift, t_alarm) — mean the final
    * running mean (4 dp), ph the maximum excursion (4 dp), drift
    * whether any excursion exceeded λ, t_alarm the first alarm t.
    */
  def pageHinkley(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, delta: Double = 0.5,
      lambda: Double = 10.0, maxPoints: Int = 1 << 20): DataFrame = {
    require(lambda > 0, s"bad lambda $lambda")
    require(maxPoints >= 1, s"bad maxPoints $maxPoints")
    val dl = Grid.lit17(delta)
    val lm = Grid.lit17(lambda)
    val i1 = "(acc.i + 1.0D)"
    val s1 = "(acc.s + x.y)"
    val m1 = Grid.snapSql(s"acc.m + (x.y - $s1 / $i1 - $dl)")
    val exc = Grid.snapSql(s"($m1) - least(acc.mn, $m1)")
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tCol).cast("long").as("t"),
        col(valueCol).cast("double").as("y")))).as("__s"))
    series
      .withColumn("__st", expr(
        s"""aggregate(__s,
           |  named_struct('i', 0.0D, 's', 0.0D, 'm', 0.0D,
           |    'mn', 0.0D, 'ph', 0.0D, 'at', -1.0D),
           |  (acc, x) -> named_struct(
           |    'i', $i1,
           |    's', $s1,
           |    'm', $m1,
           |    'mn', least(acc.mn, $m1),
           |    'ph', greatest(acc.ph, $exc),
           |    'at', CASE WHEN acc.at >= 0.0D THEN acc.at
           |      WHEN ($exc) > $lm THEN CAST(x.t AS DOUBLE)
           |      ELSE -1.0D END))""".stripMargin))
      .select(col(keyCol),
        // the series-length contract, enforced where the violation is
        // visible (the materialized list's own size) — loud, per key
        when(size(col("__s")) > maxPoints, raise_error(concat(
            lit("pageHinkley: a key's series has "),
            size(col("__s")).cast("string"),
            lit(s" points, over maxPoints=$maxPoints — not a bounded " +
              "series grain; raise maxPoints only with a memory " +
              "budget, or use streaming.CusumStream.pageHinkley"))))
          .otherwise(size(col("__s")).cast("long")).as("n"),
        Grid.snap(col("__st.s") / col("__st.i"), 4).as("mean"),
        Grid.snap(col("__st.ph"), 4).as("ph"),
        (col("__st.ph") > lit(lambda)).as("drift"),
        when(col("__st.at") >= 0, col("__st.at").cast("long"))
          .as("t_alarm"))
  }
}
