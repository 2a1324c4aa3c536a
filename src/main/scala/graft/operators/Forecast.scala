package graft.operators

import graft.functions.Grid
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-key time-series forecasting: Holt's linear trend (double
  * exponential smoothing) — level + trend state folded once through the
  * ordered series, h-step forecast = level + h·trend. The forecasting
  * complement to the family's descriptive devices ([[Decay]]'s EWMA
  * weights, CUSUM drift, rate anomalies).
  *
  * Execution shape: ONE groupBy collects each key's series as an
  * ordered array and the smoothing runs as an `aggregate` HOF fold
  * inside codegen — per-key sequential state without a window, no
  * driver loop, keys process in parallel. The contract is
  * experiment/entity-grain series (thousands of points per key, the
  * array is a row value): the fold STATE is O(1), but the collected
  * array is O(series length) memory per key — the replay-fold
  * device's real bound, shared with [[Robust.pageHinkley]] (which
  * enforces it loudly via `maxPoints`) and [[Robust.changePoint]];
  * corpus-grain / unbounded series belong in the streaming fold
  * instead.
  *
  * Replay discipline: level and trend re-snap to the 1e-6 grid after
  * EACH update via [[graft.functions.Grid]] — the engine-exact IEEE
  * snap, NOT `round()`, whose half-ulp tie handling is engine-dependent
  * and diverges over a long fold — so the whole trajectory is a pure
  * function of grid values and any engine folding the same ordered
  * list reproduces it bit-exactly (the k-means/Markov grid-pinning
  * device, applied to smoothing).
  * Init is the standard l₁ = y₁, b₁ = y₂ − y₁ with updates folding
  * from y₂ (Hyndman & Athanasopoulos §8.2); keys with fewer than 2
  * observations drop (no trend is estimable).
  */
object Forecast {

  def holtLinear(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, alpha: Double, beta: Double,
      horizon: Int): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"smoothing parameters out of (0,1): alpha=$alpha beta=$beta")
    require(horizon >= 1, s"bad horizon $horizon")
    val lNew = Grid.snapSql(s"$alpha * x.y + ${1 - alpha} * (acc.l + acc.b)")
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tCol).cast("long").as("t"),
        col(valueCol).cast("double").as("y")))).as("__s"))
      .filter(size(col("__s")) >= 2)
    series
      .withColumn("__st", expr(
        s"""aggregate(
           |  slice(__s, 2, size(__s) - 1),
           |  named_struct(
           |    'l', CAST(__s[0].y AS DOUBLE),
           |    'b', CAST(__s[1].y - __s[0].y AS DOUBLE)),
           |  (acc, x) -> named_struct(
           |    'l', $lNew,
           |    'b', ${Grid.snapSql(
              s"$beta * ($lNew - acc.l) + ${1 - beta} * acc.b")}))"""
          .stripMargin))
      .select(col(keyCol), size(col("__s")).cast("long").as("n_obs"),
        col("__st.l").as("level"), col("__st.b").as("trend"),
        Grid.snap(col("__st.l") + lit(horizon.toDouble) * col("__st.b"))
          .as(s"forecast_$horizon"))
  }

  /** Additive Holt–Winters: [[holtLinear]] plus a `period`-slot
    * seasonal register updated at slot `t mod period` — calendar-true
    * seasonality (a missing day skips its slot instead of shifting the
    * phase, so gappy real-world series keep their weekday alignment).
    * Same execution shape (one groupBy, aggregate-HOF fold, the state
    * array rides inside the accumulator struct) and the same 1e-6
    * per-step grid, so the trajectory — all `2 + period` state cells —
    * replays engine-independently.
    *
    * Init: l₁ = y₁, b₁ = y₂ − y₁, seasonal register all-zero (the
    * register LEARNS through γ rather than assuming a gap-free first
    * season — the init that survives sparse series; convergence is
    * geometric, measured in ForecastSpec). `t` must be a non-negative
    * integer grid (day/hour index). Forecast h steps:
    * `l + h·b + s[(t_last + h) mod period]`.
    */
  def holtWinters(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, period: Int, alpha: Double, beta: Double,
      gamma: Double, horizon: Int): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1 &&
      gamma > 0 && gamma < 1,
      s"smoothing parameters out of (0,1): $alpha/$beta/$gamma")
    require(period >= 2 && period <= 1000, s"bad period $period")
    require(horizon >= 1, s"bad horizon $horizon")
    val m = period
    val lNew = Grid.snapSql(
      s"$alpha * (x.y - acc.s[CAST(x.t % $m AS INT)]) + " +
        s"${1 - alpha} * (acc.l + acc.b)")
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tCol).cast("long").as("t"),
        col(valueCol).cast("double").as("y")))).as("__s"))
      .filter(size(col("__s")) >= 2)
    series
      .withColumn("__st", expr(
        s"""aggregate(
           |  slice(__s, 2, size(__s) - 1),
           |  named_struct(
           |    'l', CAST(__s[0].y AS DOUBLE),
           |    'b', CAST(__s[1].y - __s[0].y AS DOUBLE),
           |    's', array_repeat(CAST(0.0 AS DOUBLE), $m)),
           |  (acc, x) -> named_struct(
           |    'l', $lNew,
           |    'b', ${Grid.snapSql(
              s"$beta * ($lNew - acc.l) + ${1 - beta} * acc.b")},
           |    's', transform(acc.s, (v, i) ->
           |      CASE WHEN i = CAST(x.t % $m AS INT)
           |        THEN ${Grid.snapSql(
              s"$gamma * (x.y - $lNew) + ${1 - gamma} * v")}
           |        ELSE v END)))""".stripMargin))
      .withColumn("__tl", expr("element_at(__s, -1).t"))
      .select(col(keyCol), size(col("__s")).cast("long").as("n_obs"),
        col("__st.l").as("level"), col("__st.b").as("trend"),
        expr(Grid.snapSql("array_min(__st.s)")).as("s_min"),
        expr(Grid.snapSql("array_max(__st.s)")).as("s_max"),
        expr(Grid.snapSql(s"__st.l + CAST($horizon AS DOUBLE) * " +
          s"__st.b + __st.s[CAST((__tl + $horizon) % $m AS INT)]"))
          .as(s"forecast_$horizon"))
  }

  /** The RESUMABLE form of [[holtWinters]]: same fold, but the output
    * carries the FULL state — `(key, n_obs, t_last, level, trend,
    * seasonal)` with the `period`-slot register as an array column —
    * so [[holtWintersFrom]] can continue the recursion. (The gated
    * [[holtWinters]] readout keeps its scalar register summary; this
    * is the state table a checkpoint stores.)
    */
  def holtWintersState(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, period: Int, alpha: Double, beta: Double,
      gamma: Double): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1 &&
      gamma > 0 && gamma < 1,
      s"smoothing parameters out of (0,1): $alpha/$beta/$gamma")
    require(period >= 2 && period <= 1000, s"bad period $period")
    val m = period
    val lNew = Grid.snapSql(
      s"$alpha * (x.y - acc.s[CAST(x.t % $m AS INT)]) + " +
        s"${1 - alpha} * (acc.l + acc.b)")
    df.filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tCol).cast("long").as("t"),
        col(valueCol).cast("double").as("y")))).as("__s"))
      .filter(size(col("__s")) >= 2)
      .withColumn("__st", expr(
        s"""aggregate(
           |  slice(__s, 2, size(__s) - 1),
           |  named_struct(
           |    'l', CAST(__s[0].y AS DOUBLE),
           |    'b', CAST(__s[1].y - __s[0].y AS DOUBLE),
           |    's', array_repeat(CAST(0.0 AS DOUBLE), $m)),
           |  (acc, x) -> named_struct(
           |    'l', $lNew,
           |    'b', ${Grid.snapSql(
              s"$beta * ($lNew - acc.l) + ${1 - beta} * acc.b")},
           |    's', transform(acc.s, (v, i) ->
           |      CASE WHEN i = CAST(x.t % $m AS INT)
           |        THEN ${Grid.snapSql(
              s"$gamma * (x.y - $lNew) + ${1 - gamma} * v")}
           |        ELSE v END)))""".stripMargin))
      .select(col(keyCol), size(col("__s")).cast("long").as("n_obs"),
        expr("element_at(__s, -1).t").as("t_last"),
        col("__st.l").as("level"), col("__st.b").as("trend"),
        col("__st.s").as("seasonal"))
  }

  /** RESUME the seasonal fold from a [[holtWintersState]] table —
    * [[holtLinearFrom]] for the flagship model: each key's new points
    * (strictly later than `t_last`, the incremental contract)
    * continue the recursion from the stored (level, trend, register);
    * slots stay calendar-true because they derive from each point's
    * own `t`. Left fold ⇒ `resume(state(A), B) == state(A ++ B)`
    * EXACTLY (spec'd). Idle keys pass through; debut keys take the
    * classic init over their own points. Streamed under the
    * [[holtLinearFrom]] fold, with [[holtWintersState]] as the first
    * step (ForecastStreamSpec).
    */
  def holtWintersFrom(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, state: DataFrame, period: Int, alpha: Double,
      beta: Double, gamma: Double): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1 &&
      gamma > 0 && gamma < 1,
      s"smoothing parameters out of (0,1): $alpha/$beta/$gamma")
    require(period >= 2 && period <= 1000, s"bad period $period")
    val m = period
    val lNew = Grid.snapSql(
      s"$alpha * (x.y - acc.s[CAST(x.t % $m AS INT)]) + " +
        s"${1 - alpha} * (acc.l + acc.b)")
    val st = state.select(col(keyCol), col("n_obs").as("__pn"),
      col("t_last").as("__pt"), col("level").as("__pl"),
      col("trend").as("__pb"), col("seasonal").as("__ps"))
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tCol).cast("long").as("t"),
        col(valueCol).cast("double").as("y")))).as("__s"))
    val resumed = series.join(st, Seq(keyCol))
      .withColumn("__st", expr(
        s"""aggregate(__s,
           |  named_struct('l', __pl, 'b', __pb, 's', __ps),
           |  (acc, x) -> named_struct(
           |    'l', $lNew,
           |    'b', ${Grid.snapSql(
              s"$beta * ($lNew - acc.l) + ${1 - beta} * acc.b")},
           |    's', transform(acc.s, (v, i) ->
           |      CASE WHEN i = CAST(x.t % $m AS INT)
           |        THEN ${Grid.snapSql(
              s"$gamma * (x.y - $lNew) + ${1 - gamma} * v")}
           |        ELSE v END)))""".stripMargin))
      .select(col(keyCol),
        (col("__pn") + size(col("__s")).cast("long")).as("n_obs"),
        greatest(col("__pt"), expr("element_at(__s, -1).t"))
          .as("t_last"),
        col("__st.l").as("level"), col("__st.b").as("trend"),
        col("__st.s").as("seasonal"))
    val idle = st.join(series.select(col(keyCol)), Seq(keyCol),
        "left_anti")
      .select(col(keyCol), col("__pn").as("n_obs"),
        col("__pt").as("t_last"), col("__pl").as("level"),
        col("__pb").as("trend"), col("__ps").as("seasonal"))
    val fresh = holtWintersState(
      df.join(st.select(col(keyCol)), Seq(keyCol), "left_anti"),
      keyCol, tCol, valueCol, period, alpha, beta, gamma)
    resumed.unionByName(idle).unionByName(fresh)
  }

  /** RESUME the Holt fold from persisted state: `state` is a prior
    * [[holtLinear]]/[[holtLinearFrom]] output (`key, n_obs, level,
    * trend`), and each key's NEW points (all strictly later than the
    * state's horizon — the caller's contract, same as every
    * incremental fold here) continue the recursion from the stored
    * (level, trend). Because the smoothing is a left fold,
    * `resume(fold(A), B) == fold(A ++ B)` EXACTLY — incremental
    * maintenance never replays history (the [[graft.sources
    * .SkippingManifest.merge]] contract for sequential state). Keys
    * with no new points pass through unchanged; NEW keys (no state)
    * get the classic [[holtLinear]] init. Output feeds back in as the
    * next state. Streamed: a [[graft.streaming.Streams.fold]] whose
    * first batch runs [[holtLinear]] and every later batch resumes here
    * ends in the whole-history state (ForecastStreamSpec), provided
    * batches arrive in event-time order per key and a key's first batch
    * carries ≥ 2 points (a 1-point debut is dropped by [[holtLinear]]).
    */
  def holtLinearFrom(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, state: DataFrame, alpha: Double, beta: Double,
      horizon: Int): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"smoothing parameters out of (0,1): alpha=$alpha beta=$beta")
    require(horizon >= 1, s"bad horizon $horizon")
    val fc = s"forecast_$horizon"
    val st = state.select(col(keyCol), col("n_obs").as("__pn"),
      col("level").as("__pl"), col("trend").as("__pb"))
    val series = df
      .filter(col(tCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tCol).cast("long").as("t"),
        col(valueCol).cast("double").as("y")))).as("__s"))
    // keys with prior state: fold EVERY new point from (level, trend)
    val lNew = Grid.snapSql(s"$alpha * x.y + ${1 - alpha} * (acc.l + acc.b)")
    val resumed = series.join(st, Seq(keyCol))
      .withColumn("__st", expr(
        s"""aggregate(__s,
           |  named_struct('l', __pl, 'b', __pb),
           |  (acc, x) -> named_struct(
           |    'l', $lNew,
           |    'b', ${Grid.snapSql(
              s"$beta * ($lNew - acc.l) + ${1 - beta} * acc.b")}))"""
          .stripMargin))
      .select(col(keyCol),
        (col("__pn") + size(col("__s")).cast("long")).as("n_obs"),
        col("__st.l").as("level"), col("__st.b").as("trend"),
        Grid.snap(col("__st.l") + lit(horizon.toDouble) * col("__st.b"))
          .as(fc))
    // prior keys with no new points pass through unchanged
    val idle = st.join(series.select(col(keyCol)), Seq(keyCol),
        "left_anti")
      .select(col(keyCol), col("__pn").as("n_obs"),
        col("__pl").as("level"), col("__pb").as("trend"),
        Grid.snap(col("__pl") + lit(horizon.toDouble) * col("__pb"))
          .as(fc))
    // brand-new keys: classic init over their own series
    val fresh = holtLinear(
      df.join(st.select(col(keyCol)), Seq(keyCol), "left_anti"),
      keyCol, tCol, valueCol, alpha, beta, horizon)
    resumed.unionByName(idle).unionByName(fresh)
  }

  /** Rolling-origin backtest of [[holtLinear]] — the evaluation a
    * forecast is worthless without: at each CUTOFF in the (config-
    * bounded) list, fit on history `t ≤ cutoff`, point-forecast
    * `horizon` ahead, and score against the MEAN of the actuals
    * observed in `(cutoff, cutoff + horizon]` (gappy series — a
    * single-day actual may not exist). One fold per (key, cutoff);
    * cutoffs with no future observations drop rather than scoring
    * against nothing. `ape` = |forecast − actual| / |actual|.
    */
  def backtestHolt(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, cutoffs: Seq[Long], alpha: Double,
      beta: Double, horizon: Int): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.size <= 32,
      s"cutoffs must be a bounded list, got ${cutoffs.size}")
    val parts = cutoffs.distinct.sorted.map { c =>
      val fit = holtLinear(df.filter(col(tCol) <= c), keyCol, tCol,
        valueCol, alpha, beta, horizon)
        .select(col(keyCol), col("n_obs"),
          col(s"forecast_$horizon").as("forecast"))
        .withColumn("cutoff", lit(c))
      val actual = df
        .filter(col(tCol) > c && col(tCol) <= c + horizon)
        .groupBy(col(keyCol))
        .agg(Grid.snap(avg(col(valueCol).cast("double"))).as("actual"))
      fit.join(actual, Seq(keyCol))
        .withColumn("ape", Grid.snap(abs(col("forecast") -
          col("actual")) / abs(col("actual"))))
    }
    parts.reduce(_ unionByName _)
      .select(col(keyCol), col("cutoff"), col("n_obs").cast("long")
        .as("n_obs"), col("forecast"), col("actual"), col("ape"))
  }

  /** Rolling-origin backtest of the SEASONAL model — [[backtestHolt]]
    * for [[holtWinters]]: at each cutoff, the full `2 + period`-cell
    * state folds over history `t ≤ cutoff` and the h-step forecast
    * (level + h·trend + the calendar-true seasonal slot) scores
    * against the mean actual in `(cutoff, cutoff + horizon]`. The
    * flagship forecaster gets the same honest evaluation as the
    * linear one: per (key, cutoff) one fold, cutoffs config-bounded,
    * everything on the [[graft.functions.Grid]] snap so every fold
    * replays engine-exactly.
    */
  def backtestHoltWinters(df: DataFrame, keyCol: String, tCol: String,
      valueCol: String, cutoffs: Seq[Long], period: Int, alpha: Double,
      beta: Double, gamma: Double, horizon: Int): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.size <= 32,
      s"cutoffs must be a bounded list, got ${cutoffs.size}")
    val parts = cutoffs.distinct.sorted.map { c =>
      val fit = holtWinters(df.filter(col(tCol) <= c), keyCol, tCol,
        valueCol, period, alpha, beta, gamma, horizon)
        .select(col(keyCol), col("n_obs"),
          col(s"forecast_$horizon").as("forecast"))
        .withColumn("cutoff", lit(c))
      val actual = df
        .filter(col(tCol) > c && col(tCol) <= c + horizon)
        .groupBy(col(keyCol))
        .agg(Grid.snap(avg(col(valueCol).cast("double"))).as("actual"))
      fit.join(actual, Seq(keyCol))
        .withColumn("ape", Grid.snap(abs(col("forecast") -
          col("actual")) / abs(col("actual"))))
    }
    parts.reduce(_ unionByName _)
      .select(col(keyCol), col("cutoff"), col("n_obs").cast("long")
        .as("n_obs"), col("forecast"), col("actual"), col("ape"))
  }
}
