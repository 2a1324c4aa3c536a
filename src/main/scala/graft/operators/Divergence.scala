package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Token-distribution divergence — the corpus-health diagnostic that
  * quantifies how far a slice's unigram distribution sits from the rest
  * of the corpus (or from a fixed reference): add-α-smoothed KL and
  * Jensen–Shannon over the union vocabulary. The numbers a mixture
  * designer actually reads: "src7 is JS 0.4 from everything else" is a
  * domain outlier worth its own mixture weight; a snapshot whose JS
  * against last week's corpus jumps is a scrape regression.
  *
  * 100 TB shape: one tokenize pass → one `(group, token)` count table;
  * the union-vocabulary zero rows come from a cross join of the vocab
  * table with the BOUNDED per-group totals table (broadcast — group
  * count is mixture-arity, tens not millions), never a vocab×vocab
  * form. Totals and vocabulary size flow through single-row broadcast
  * frames — no driver-side scalar at all. Every aggregation is a plain
  * map-side-partial `groupBy`.
  *
  * Determinism: the per-group sums add thousands of O(1e-4) doubles
  * whose order Spark does not fix, so results are rounded to the 1e-4
  * grid (the [[NgramLm]] convention) — far above the ~1e-12 worst-case
  * reassociation error, far below anything a mixture decision reads.
  */
object Divergence {

  /** Per-group divergence vs the REST of the corpus:
    * `(groupCol, n_tokens, n_vocab, kl_vs_rest, js_vs_rest)`.
    *
    * For each group g and token t in the UNION vocabulary (size V):
    * `p = (c_gt + α) / (N_g + αV)` and `q` the same under the
    * complement counts; `kl = Σ p ln(p/q)`,
    * `js = ½ Σ (p ln(2p/(p+q)) + q ln(2q/(p+q)))` (≤ ln 2). A group
    * owning the whole corpus compares against the α-uniform
    * distribution — the smoothing keeps every term finite.
    */
  def tokenDivergenceBy(docs: DataFrame, groupCol: String,
      textCol: String, alpha: Double = 0.5,
      tokensCol: Option[String] = None): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val tok = docs.select(col(groupCol).as("__dv_g"),
      explode(tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
        .as("token"))
    val cnt = graft.CacheScope.register(tok
      .groupBy(col("__dv_g"), col("token"))
      .agg(count(lit(1)).as("c"))
      .persist())
    val groupTotals = cnt.groupBy(col("__dv_g"))
      .agg(sum(col("c")).as("ng"), count(lit(1)).as("vg"))
    val vocab = graft.CacheScope.register(cnt
      .groupBy(col("token")).agg(sum(col("c")).as("cg"))
      .persist())
    val totals = vocab.agg(sum(col("cg")).as("n"), count(lit(1)).as("v"))

    val a = lit(alpha)
    val rows = vocab
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(groupTotals))
      .join(cnt, Seq("__dv_g", "token"), "left")
      .withColumn("cge", coalesce(col("c"), lit(0L)))
    val p = (col("cge") + a) / (col("ng") + a * col("v"))
    val q = (col("cg") - col("cge") + a) /
      (col("n") - col("ng") + a * col("v"))
    rows
      .withColumn("__dv_kl", p * log(p / q))
      .withColumn("__dv_js",
        (p * log(lit(2) * p / (p + q)) + q * log(lit(2) * q / (p + q)))
          / 2)
      .groupBy(col("__dv_g"))
      .agg(max(col("ng")).cast("long").as("n_tokens"),
        max(col("vg")).cast("long").as("n_vocab"),
        round(sum(col("__dv_kl")), 4).as("kl_vs_rest"),
        round(sum(col("__dv_js")), 4).as("js_vs_rest"))
      .withColumnRenamed("__dv_g", groupCol)
  }

  /** Exact Wasserstein-1 (earth-mover) distance between each group's
    * distribution of an integer-grid metric and the REST of the
    * corpus: `W1(g) = ∫ |F_g(v) − F_rest(v)| dv` over the merged
    * support — the drift number that KL/JS ([[tokenDivergenceBy]])
    * and KS (`Abtest.ksTest`) each miss a facet of: KL/JS ignore the
    * metric's GEOMETRY (how far apart the masses sit), KS reads only
    * the worst single point; W1 is the total transport cost, the
    * quantity mixture designers actually budget ("src7's length
    * distribution sits 40 tokens from everyone else's").
    * Returns `(groupCol, n_rows, w1_vs_rest)` per group.
    *
    * Exactness: `valueCol` must live on an integer grid (counts,
    * token lengths, money cents — pre-quantize a continuous metric,
    * the `ksTest` winsorize-cut contract). Each CDF step contributes
    * `|c_g·n_rest − c_rest·n_g| · Δv` in DECIMAL(38,0) — integers
    * end to end, one double division at the very end, snapped 1e-6 —
    * so the oracle replays it bit-for-bit in HUGEINT.
    *
    * 100 TB shape: one partial-agg shuffle to the (group, value)
    * histogram — the BOUNDED register for gridded metrics — then
    * windows ONLY over that register, keyed by group (every group
    * carries the full merged support via the bounded
    * groups × distinct-values grid, the [[tokenDivergenceBy]]
    * zero-fill device, so the complement CDF needs no second pass).
    * Totals ride one-row broadcast frames; nothing driver-side.
    */
  def wasserstein1By(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val h = graft.CacheScope.register(df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__w1_g"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("__w1_g"), col("v"))
      .agg(count(lit(1)).as("c"))
      .persist())
    w1Core(h)
      .select(col("__w1_g").as(groupCol),
        col("n_g").cast("long").as("n_rows"), col("w1").as("w1_vs_rest"))
  }

  /** Two-sample exact Wasserstein-1 from (value, count) HISTOGRAMS —
    * the reference-vs-candidate form ([[divergence]]'s sibling;
    * a stream scores each micro-batch's
    * [[graft.streaming.DriftStream.valueCounts]] with it through
    * [[graft.streaming.Streams.perBatch]]). Returns one row
    * `(n_p, n_q, w1)` on the same
    * integer-grid / exact-DECIMAL contract as [[wasserstein1By]] —
    * under the hood the two histograms tag as the two groups of the
    * shared group-vs-rest core, so batch and monitoring paths can
    * never drift apart.
    */
  def wasserstein1(pCounts: DataFrame, qCounts: DataFrame,
      valueCol: String, countCol: String): DataFrame = {
    val h = pCounts
      .select(lit("p").as("__w1_g"), col(valueCol).cast("long").as("v"),
        col(countCol).cast("long").as("c"))
      .unionByName(qCounts.select(lit("q").as("__w1_g"),
        col(valueCol).cast("long").as("v"),
        col(countCol).cast("long").as("c")))
      .filter(col("v").isNotNull && col("c") > 0)
      .groupBy(col("__w1_g"), col("v"))
      .agg(sum(col("c")).as("c"))
    w1Core(h)
      .filter(col("__w1_g") === "p")
      .select(col("n_g").cast("long").as("n_p"),
        col("n_rest").cast("long").as("n_q"), col("w1"))
  }

  /** The shared W1 core over a `(__w1_g, v, c)` histogram: per group
    * `(… , n_g, n_rest, w1)` vs the complement. Zero-fill grid from
    * the bounded broadcast group table × the value register, keyed
    * CDF windows over that register only, DECIMAL(38,0) step terms,
    * one double division, 1e-6 snap (NULL when the group owns the
    * whole mass).
    */
  private def w1Core(h: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    val tv = h.groupBy(col("v")).agg(sum(col("c")).as("ct"))
    val gs = h.groupBy(col("__w1_g")).agg(sum(col("c")).as("n_g"))
    val tot = tv.agg(sum(col("ct")).as("__n_all"))
    val grid = tv
      .crossJoin(broadcast(gs)) // bounded: mixture-arity groups
      .join(h, Seq("__w1_g", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy(col("__w1_g")).orderBy(col("v"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val steps = grid
      .withColumn("cc", sum(col("c")).over(w))
      .withColumn("cct", sum(col("ct")).over(w))
      .withColumn("vn", lead(col("v"), 1).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("__term", when(col("vn").isNull, dec(lit(0)))
        .otherwise(abs(
          dec(col("cc")) * dec(col("__n_all") - col("n_g")) -
            dec(col("cct") - col("cc")) * dec(col("n_g"))) *
          dec(col("vn") - col("v"))))
    steps
      .groupBy(col("__w1_g"), col("n_g"), col("__n_all"))
      .agg(sum(col("__term")).as("__num"))
      .select(col("__w1_g"), col("n_g"),
        (col("__n_all") - col("n_g")).as("n_rest"),
        graft.functions.Grid.snap(
          when(col("__n_all") > col("n_g"),
            col("__num").cast("double") /
              (col("n_g").cast("double") *
                (col("__n_all") - col("n_g")).cast("double"))), 6)
          .as("w1"))
  }

  /** One-row divergence between two explicit `(token, count)` tables —
    * the reference-vs-candidate form ([[graft.streaming.DriftStream]]
    * scores each micro-batch's counts against a frozen reference with
    * it). Returns `(n_p, n_q, kl_p_q, js)` on the same α / union-vocab
    * convention as [[tokenDivergenceBy]].
    */
  def divergence(pCounts: DataFrame, qCounts: DataFrame,
      tokenCol: String, countCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val pc = pCounts.select(col(tokenCol).as("token"),
      col(countCol).cast("long").as("cp"))
    val qc = qCounts.select(col(tokenCol).as("token"),
      col(countCol).cast("long").as("cq"))
    val joined = pc.join(qc, Seq("token"), "full_outer")
      .select(coalesce(col("cp"), lit(0L)).as("cp"),
        coalesce(col("cq"), lit(0L)).as("cq"))
    val totals = joined.agg(sum(col("cp")).as("np"),
      sum(col("cq")).as("nq"), count(lit(1)).as("v"))
    val a = lit(alpha)
    val rows = joined.crossJoin(broadcast(totals))
    val p = (col("cp") + a) / (col("np") + a * col("v"))
    val q = (col("cq") + a) / (col("nq") + a * col("v"))
    rows
      .withColumn("__dv_kl", p * log(p / q))
      .withColumn("__dv_js",
        (p * log(lit(2) * p / (p + q)) + q * log(lit(2) * q / (p + q)))
          / 2)
      .agg(max(col("np")).cast("long").as("n_p"),
        max(col("nq")).cast("long").as("n_q"),
        round(sum(col("__dv_kl")), 4).as("kl_p_q"),
        round(sum(col("__dv_js")), 4).as("js"))
  }

  /** Population Stability Index — the numeric-drift metric risk
    * models are monitored with (PSI < 0.1 stable, 0.1–0.25 watch,
    * > 0.25 shift): fixed-cut value bins (underflow/overflow get
    * their own), smoothed shares on each side, and
    * `PSI = Σ (p_b − q_b)·ln(p_b/q_b)`. The numeric companion to the
    * token-distribution [[tokenDivergenceBy]].
    *
    * One aggregation to the ≤ nBins+2 bin table; shares round at
    * 1e-6 and the total folds over the sorted bin list (the q260
    * device), so the index replays exactly. Cuts are CALLER-FIXED —
    * data-dependent cuts would make two snapshots incomparable,
    * which is the entire point of PSI's fixed-bin contract.
    */
  def psi(df: DataFrame, valueCol: String,
      inRef: org.apache.spark.sql.Column, lo: Double, hi: Double,
      nBins: Int, alpha: Double = 0.5): DataFrame = {
    require(nBins >= 1 && hi > lo && alpha > 0,
      s"bad psi($lo, $hi, $nBins, $alpha)")
    val v = col(valueCol).cast("double")
    val bin = when(v < lo, lit(-1))
      .when(v >= hi, lit(nBins))
      .otherwise(floor((v - lo) / (hi - lo) * nBins).cast("int"))
    val counts = df.filter(v.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(sum(when(inRef, 1L).otherwise(0L)).as("n_ref"),
        sum(when(inRef, 0L).otherwise(1L)).as("n_cur"))
    val tot = counts.agg(sum(col("n_ref")).as("__tr"),
      sum(col("n_cur")).as("__tc"))
    val a = lit(alpha)
    val denom = a * (nBins + 2)
    val scored = counts.crossJoin(broadcast(tot))
      .withColumn("p_ref",
        round((col("n_ref") + a) / (col("__tr") + denom), 6))
      .withColumn("p_cur",
        round((col("n_cur") + a) / (col("__tc") + denom), 6))
      .withColumn("term", round((col("p_ref") - col("p_cur")) *
        log(col("p_ref") / col("p_cur")), 6))
    // engine-exact snap per fold step (the q253/q254 round() class)
    val total = scored.agg(graft.functions.Grid.snap(aggregate(
      sort_array(collect_list(struct(col("bin"), col("term").as("t")))),
      lit(0.0),
      (acc, x) => graft.functions.Grid.snap(acc + x("t"))), 4).as("psi"))
    scored.crossJoin(broadcast(total))
      .select(col("bin"), col("n_ref"), col("n_cur"), col("p_ref"),
        col("p_cur"), col("term"), col("psi"))
      .orderBy(col("bin"))
  }

  /** Monroe/Colaresi/Quinn "Fightin' Words" (2008): per-token
    * log-odds DELTA between two corpus halves under an informative
    * Dirichlet prior drawn from the POOLED corpus, z-scored by the
    * delta's approximate variance — the corpus-comparison statistic
    * that, unlike raw ratios or χ², neither drowns in rare-word
    * noise (the prior shrinks them) nor caps common words (log-odds
    * keeps resolution where χ² saturates).
    *
    *   α_w = α₀·p̂_w(pooled);  δ_w = ln-odds_A(w) − ln-odds_B(w)
    *   σ²_w ≈ 1/(y_Aw+α_w) + 1/(y_Bw+α_w);  z = δ/σ
    *
    * One token-count aggregation, a broadcast 1-row totals frame, a
    * map-only score, two TOP-K HEAPS (never a vocabulary-wide
    * window). δ and σ² round at 1e-6, z at 1e-4, so the ranking
    * replays. Output: `topK` tokens leaning each way.
    */
  def monroeLogOdds(docs: DataFrame, textCol: String,
      inA: org.apache.spark.sql.Column, sideA: String, sideB: String,
      alpha0: Double = 500.0, topK: Int = 20,
      tokensCol: Option[String] = None): DataFrame = {
    require(alpha0 > 0 && topK >= 1, s"bad monroe($alpha0, $topK)")
    val tok = docs.select(inA.as("__a"),
      explode(tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
        .as("token"))
    val ct = tok.groupBy(col("token"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("ya"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("yb"))
    val tt = ct.agg(sum(col("ya")).as("__na"), sum(col("yb")).as("__nb"))
    val a0 = lit(alpha0)
    val scored = ct.crossJoin(broadcast(tt))
      .withColumn("__aw",
        a0 * (col("ya") + col("yb")) / (col("__na") + col("__nb")))
      .withColumn("__delta", round(
        log(col("ya") + col("__aw")) -
          log(col("__na") + a0 - col("ya") - col("__aw")) -
          log(col("yb") + col("__aw")) +
          log(col("__nb") + a0 - col("yb") - col("__aw")), 6))
      .withColumn("__s2", round(lit(1.0) / (col("ya") + col("__aw")) +
        lit(1.0) / (col("yb") + col("__aw")), 6))
      .withColumn("z",
        round(col("__delta") / sqrt(col("__s2")), 4))
      .select(col("token"), col("ya"), col("yb"), col("z"))
    val topA = scored.orderBy(col("z").desc, col("token")).limit(topK)
      .withColumn("side", lit(sideA))
    val topB = scored.orderBy(col("z").asc, col("token")).limit(topK)
      .withColumn("side", lit(sideB))
    topA.union(topB)
      .select(col("side"), col("token"), col("ya"), col("yb"), col("z"))
      .orderBy(col("side"), col("z"), col("token"))
  }
}
