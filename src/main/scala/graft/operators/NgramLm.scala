package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus n-gram language-model scoring — the CCNet-style quality
  * scorer: train an n-gram LM on a REFERENCE corpus (CCNet uses a
  * 5-gram KenLM over Wikipedia; any trusted split and order works),
  * then score candidate documents by their average smoothed n-gram
  * log-probability. Low scores flag garbled/boilerplate/machine text;
  * the score feeds the same bucket-and-select machinery as every other
  * quality signal ([[CorpusSelection]], [[Sampling]]).
  *
  * The model is add-α smoothed with an (n-1)-gram context:
  * `lp(w_1..w_n) = ln((c(w_1..w_n) + α) / (c(w_1..w_{n-1}) + α·V))`,
  * V = trained unigram vocabulary size. At `n = 2` this is the classic
  * bigram-over-unigram form. No backoff — the add-α floor plays that
  * role; unseen n-grams and OOV contexts score through coalesce(0).
  * N-grams are counted WITHOUT the whole-doc fallback ([[grams]]): a
  * document below n tokens contributes no n-grams and, when scored,
  * emits no row.
  *
  * 100 TB shape: training is two partial-agg shuffles (n-gram and
  * context counts — corpus-cardinality tables that STAY distributed;
  * the only driver fact is V, one long). Scoring is one gram+context
  * explode and two UN-HINTED equi-joins against the count tables (the
  * [[Keywords]] df-join rule: AQE broadcasts them only when the runtime
  * size fits — a trained reference LM usually does fit, but the worst
  * case is corpus-cardinality and must not be forced), then one
  * aggregation back to document grain. Cross-engine determinism: `ln`
  * is rounded to the 1e-4 grid AFTER the per-doc average (the q69
  * rounded-grid device); the fraction itself is IEEE-exact per gram.
  */
object NgramLm {

  /** A trained n-gram LM: distributed count tables + the vocab size.
    * `ngrams`: (gram, c_n) over space-joined n-grams; `contexts`:
    * (ctx, c_ctx) over (n-1)-grams; `vocab` = |distinct training
    * tokens| — the one driver-side bounded fact; `n` the order.
    */
  final case class Lm(ngrams: DataFrame, contexts: DataFrame, vocab: Long,
      n: Int)

  /** Space-joined `n`-grams with NO whole-doc fallback: `[]` below `n`
    * tokens (a short document is not an n-gram — fallback semantics
    * belong to the dedup shingles, not LM counting). Base tokens carry
    * no spaces, so the joined string is unambiguous.
    */
  private def grams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Count tables from the reference corpus. `tokensCol` joins the
    * tokenize-once contract as everywhere else.
    */
  def train(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 2, tokensCol: Option[String] = None): Lm = {
    require(n >= 2, s"order $n must be >= 2 (the context is n-1 grams)")
    // the tokenized reference feeds both count aggregations, and the
    // context table feeds the scoring join — scope-cached so each pass
    // runs once (CacheScope contract). Tokens are materialized BEFORE
    // the gram lambdas (HOF re-evaluation trap).
    val toks = graft.CacheScope.register(corpus
      .withColumn("__lm_toks",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col("__lm_toks"))
      .persist())
    val contexts = graft.CacheScope.register(toks
      .select(explode(grams(col("__lm_toks"), n - 1)).as("ctx"))
      .groupBy(col("ctx")).agg(count(lit(1)).as("c_ctx"))
      .persist())
    val ngrams = toks
      .select(explode(grams(col("__lm_toks"), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c_n"))
    val vocab =
      if (n == 2) contexts.count() // the contexts ARE the unigrams
      else toks.select(explode(col("__lm_toks")).as("w"))
        .distinct().count()
    Lm(ngrams, contexts, vocab, n)
  }

  /** The STATELESS stage of [[logProbScore]]: one row per (doc, n-gram
    * occurrence) with its smoothed ln-prob `lp` — explode + the two
    * un-hinted count-table equi-joins, NO aggregation. Safe on a
    * STREAMING frame as-is (the joins become stream-static, carry no
    * state, and need no watermark; LmStreamSpec pins batch-identity);
    * the per-doc reduction lives in [[logProbScore]].
    */
  def scoredGrams(docs: DataFrame, idCol: String, textCol: String,
      lm: Lm, alpha: Double = 0.4,
      tokensCol: Option[String] = None): DataFrame = {
    require(alpha > 0, s"alpha $alpha must be positive (it is the floor)")
    val n = lm.n
    val pairs = docs
      .withColumn("__lm_toks",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col(idCol),
        explode(when(size(col("__lm_toks")) >= n,
          transform(sequence(lit(0), size(col("__lm_toks")) - n),
            i => struct(
              array_join(slice(col("__lm_toks"), i + 1, lit(n)), " ")
                .as("gram"),
              array_join(slice(col("__lm_toks"), i + 1, lit(n - 1)), " ")
                .as("ctx"))))
          .otherwise(array().cast(
            "array<struct<gram:string,ctx:string>>"))).as("p"))
      .select(col(idCol), col("p.gram").as("gram"), col("p.ctx").as("ctx"))
    pairs
      .join(lm.ngrams, Seq("gram"), "left") // un-hinted: see object doc
      .join(lm.contexts, Seq("ctx"), "left")
      .withColumn("lp",
        log((coalesce(col("c_n"), lit(0L)) + lit(alpha)) /
          (coalesce(col("c_ctx"), lit(0L)) + lit(alpha * lm.vocab))))
      .select(col(idCol), col("gram"), col("ctx"), col("lp"))
  }

  /** Per-document LM score: one row per scored doc with `n_grams`
    * (n-grams in the doc) and `avg_lp` (average smoothed ln-prob,
    * rounded to 4 decimals). Documents below `lm.n` tokens have no
    * n-grams and emit no row — score them with lower-order statistics
    * or drop them in quality filtering upstream.
    *
    * On a stream, run it per micro-batch through
    * [[graft.streaming.Streams.perBatch]]: scores are batch-identical
    * provided each document's text arrives whole in one batch (documents
    * are rows, not token streams). A streaming `groupBy(doc)` is the
    * wrong shape: in append mode an un-windowed per-doc aggregation
    * never emits (no watermark closes a doc id), and update mode emits
    * partial averages.
    */
  def logProbScore(docs: DataFrame, idCol: String, textCol: String,
      lm: Lm, alpha: Double = 0.4,
      tokensCol: Option[String] = None): DataFrame =
    scoredGrams(docs, idCol, textCol, lm, alpha, tokensCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        round(avg(col("lp")), 4).as("avg_lp"))

  // ---- interpolated Kneser–Ney ------------------------------------------

  /** A trained interpolated Kneser–Ney bigram model (Kneser & Ney
    * 1995; the interpolated form of Chen & Goodman 1998): the bigram
    * count table plus the two continuation-statistic tables it
    * derives, and two bounded driver facts.
    *
    *  - `bigrams`: (l, r, c2) — bigram counts, one row per TYPE;
    *  - `contexts`: (l, ct, n1f) — per left word the context total
    *    `ct = Σ_r c2(l,r)` and the fan-out `n1f = |{r : c2 > 0}|`;
    *  - `continuations`: (r, n1b) — per right word the fan-in
    *    `n1b = |{l : c2 > 0}|`, the KN continuation count;
    *  - `bTypes` = |{(l,r) : c2 > 0}|, `vocab` = |distinct tokens| —
    *    two longs (bounded facts, the only driver-side state).
    */
  final case class KnLm(bigrams: DataFrame, contexts: DataFrame,
      continuations: DataFrame, bTypes: Long, vocab: Long)

  /** Token-adjacent (l, r) pairs — the bigram occurrences. */
  private def adjPairs(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => struct(element_at(toks, i + 1).as("l"),
          element_at(toks, i + 2).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** Train the KN tables: ONE bigram count aggregation feeds both
    * continuation tables (each a groupBy over the TYPE table, which is
    * far smaller than the occurrence stream), so the corpus is read
    * once. The count tables stay distributed (corpus-grain); only the
    * two scalar facts are collected.
    */
  def trainKn(corpus: DataFrame, idCol: String, textCol: String,
      tokensCol: Option[String] = None): KnLm = {
    val toks = graft.CacheScope.register(corpus
      .withColumn("__lm_toks",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col("__lm_toks"))
      .persist())
    val bi = graft.CacheScope.register(toks
      .select(explode(adjPairs(col("__lm_toks"))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c2"))
      .persist())
    val contexts = bi.groupBy(col("l"))
      .agg(sum(col("c2")).as("ct"), count(lit(1)).as("n1f"))
    val continuations = bi.groupBy(col("r"))
      .agg(count(lit(1)).as("n1b"))
    val bTypes = bi.count()
    val vocab = toks.select(explode(col("__lm_toks")).as("w"))
      .distinct().count()
    KnLm(bi, contexts, continuations, bTypes, vocab)
  }

  /** The STATELESS stage of [[knLogProbScore]]: one row per (doc,
    * bigram occurrence) with its interpolated-KN ln-prob `lp` —
    * explode + three un-hinted count-table equi-joins, no aggregation,
    * so the same Column program runs on a STREAMING frame unchanged
    * (LmStreamSpec).
    *
    * The probability, with fixed discount `d` (default 0.75 — exact in
    * binary, so `c2 − d` is one exact double subtraction):
    *
    *  - seen context: `p = (max(c2 − d, 0) + (d·n1f)·p_cont) / ct`;
    *  - unseen context: `p = p_cont` (pure continuation backoff);
    *  - `p_cont(r) = (n1b + 1) / (bTypes + vocab)` — KN continuation
    *    probability with add-one on the continuation counts so an
    *    entirely out-of-vocabulary word keeps a positive floor
    *    (documented deviation from the textbook form, which is
    *    undefined at n1b = 0).
    *
    * Every operand is an exact integer (or `d`); the expression tree
    * is written in one fixed association order mirrored by the oracle,
    * so `lp` is bit-identical on any engine (the q100 ln contract).
    */
  def knScoredGrams(docs: DataFrame, idCol: String, textCol: String,
      lm: KnLm, discount: Double = 0.75,
      tokensCol: Option[String] = None): DataFrame = {
    require(discount > 0 && discount < 1, s"discount $discount")
    val pairs = docs
      .withColumn("__lm_toks",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col(idCol),
        explode(adjPairs(col("__lm_toks"))).as("p"))
      .select(col(idCol), col("p.l").as("l"), col("p.r").as("r"))
    val pcont = (coalesce(col("n1b"), lit(0L)) + 1).cast("double") /
      lit(lm.bTypes + lm.vocab).cast("double")
    val seen = (greatest(coalesce(col("c2"), lit(0L)).cast("double") -
      lit(discount), lit(0.0)) +
      (lit(discount) * col("n1f")) * col("__pc")) / col("ct")
    pairs
      .join(lm.bigrams, Seq("l", "r"), "left")
      .join(lm.contexts, Seq("l"), "left")
      .join(lm.continuations, Seq("r"), "left")
      .withColumn("__pc", pcont)
      .withColumn("lp", log(when(coalesce(col("ct"), lit(0L)) > 0, seen)
        .otherwise(col("__pc"))))
      .select(col(idCol), col("l"), col("r"), col("lp"))
  }

  /** Per-document interpolated-KN score: `(idCol, n_bigrams, kn_lp)` —
    * the average ln-prob on the 1e-4 grid (round AFTER the aggregate,
    * the q100 device). Documents under 2 tokens have no bigrams and
    * emit no row ([[logProbScore]]'s contract).
    */
  def knLogProbScore(docs: DataFrame, idCol: String, textCol: String,
      lm: KnLm, discount: Double = 0.75,
      tokensCol: Option[String] = None): DataFrame =
    knScoredGrams(docs, idCol, textCol, lm, discount, tokensCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("lp")), 4).as("kn_lp"))

  // ---- per-group (per-language) LM -------------------------------------

  /** A per-group family of n-gram LMs in ONE set of count tables — the
    * CCNet deployment shape ("train one 5-gram LM per language"), held
    * as (group, gram, c_n) / (group, ctx, c_ctx) / (group, v) frames.
    * One LM per distinct `grp` value; `vocabs` carries each group's
    * trained vocabulary size as a COLUMN (the ungrouped [[Lm]]'s one
    * driver long becomes a bounded per-group table that never needs to
    * leave the executors).
    */
  final case class GroupedLm(ngrams: DataFrame, contexts: DataFrame,
      vocabs: DataFrame, n: Int)

  /** [[train]] with the group key (e.g.
    * [[graft.functions.TextFunctions.langId]]) in every count-table key:
    * one corpus pass trains ALL groups' models — never a driver-side
    * loop over languages (a per-language `train` call would re-scan the
    * reference corpus per language for the same tables this builds
    * once). Still two partial-agg shuffles plus one countDistinct
    * aggregation; every table stays distributed.
    */
  def trainGrouped(corpus: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 2,
      tokensCol: Option[String] = None): GroupedLm = {
    require(n >= 2, s"order $n must be >= 2 (the context is n-1 grams)")
    // tokens materialized BEFORE the gram lambdas (HOF re-evaluation
    // trap); the tokenized reference feeds all three aggregations
    val toks = graft.CacheScope.register(corpus
      .withColumn("__lm_toks",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col(groupCol).as("__lm_grp"), col("__lm_toks"))
      .persist())
    val contexts = toks
      .select(col("__lm_grp"),
        explode(grams(col("__lm_toks"), n - 1)).as("ctx"))
      .groupBy(col("__lm_grp"), col("ctx"))
      .agg(count(lit(1)).as("c_ctx"))
    val ngrams = toks
      .select(col("__lm_grp"),
        explode(grams(col("__lm_toks"), n)).as("gram"))
      .groupBy(col("__lm_grp"), col("gram"))
      .agg(count(lit(1)).as("c_n"))
    val vocabs = toks
      .select(col("__lm_grp"), explode(col("__lm_toks")).as("w"))
      .groupBy(col("__lm_grp"))
      .agg(countDistinct(col("w")).cast("double").as("__lm_v"))
    GroupedLm(ngrams, contexts, vocabs, n)
  }

  /** [[logProbScore]] against a [[GroupedLm]]: each document scores
    * against ITS group's model — the gram/context joins carry the group
    * key, and the smoothing denominator reads that group's vocabulary
    * size from the `vocabs` join instead of a literal. All three joins
    * un-hinted (the count tables are corpus-cardinality worst case — the
    * [[Keywords]] df-join rule; `vocabs` is group-bounded and AQE will
    * broadcast it on its runtime size).
    *
    * Dropped-row contract, one case wider than the ungrouped form: a doc
    * below `lm.n` tokens emits no row (no n-grams), and a doc whose
    * group has NO trained model (a language absent from the reference
    * corpus) emits no row either — there is no V to smooth against, and
    * CCNet's recipe has no cross-language backoff; surface such docs
    * upstream with an anti-join on `vocabs` if they must be kept.
    */
  def logProbScoreGrouped(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, lm: GroupedLm, alpha: Double = 0.4,
      tokensCol: Option[String] = None): DataFrame = {
    require(alpha > 0, s"alpha $alpha must be positive (it is the floor)")
    val n = lm.n
    val pairs = docs
      .withColumn("__lm_toks",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col(idCol), col(groupCol).as("__lm_grp"),
        explode(when(size(col("__lm_toks")) >= n,
          transform(sequence(lit(0), size(col("__lm_toks")) - n),
            i => struct(
              array_join(slice(col("__lm_toks"), i + 1, lit(n)), " ")
                .as("gram"),
              array_join(slice(col("__lm_toks"), i + 1, lit(n - 1)), " ")
                .as("ctx"))))
          .otherwise(array().cast(
            "array<struct<gram:string,ctx:string>>"))).as("p"))
      .select(col(idCol), col("__lm_grp"),
        col("p.gram").as("gram"), col("p.ctx").as("ctx"))
    pairs
      .join(lm.ngrams, Seq("__lm_grp", "gram"), "left")
      .join(lm.contexts, Seq("__lm_grp", "ctx"), "left")
      .join(lm.vocabs, Seq("__lm_grp")) // inner: no model -> no score
      .withColumn("__lp",
        log((coalesce(col("c_n"), lit(0L)) + lit(alpha)) /
          (coalesce(col("c_ctx"), lit(0L)) + lit(alpha) * col("__lm_v"))))
      .groupBy(col(idCol), col("__lm_grp"))
      .agg(count(lit(1)).as("n_grams"),
        round(avg(col("__lp")), 4).as("avg_lp"))
      .withColumnRenamed("__lm_grp", groupCol)
  }

  /** CCNet's head/middle/tail split: within each group, bucket documents
    * by where their score ranks — `head` = the best `headFrac` of the
    * group's docs, `middle` up to `middleFrac`, `tail` the rest (CCNet
    * cuts perplexity at the 33rd/66th percentiles per language; higher
    * `scoreCol` = lower perplexity = better, so ranking is score-DESC).
    *
    * Scale shape — the cut is computed on the (group, score) HISTOGRAM,
    * never by ranking documents: `scoreCol` lives on a rounded grid (the
    * 1e-4 grid [[logProbScore]] emits), so the histogram is one
    * partial-agg shuffle to a bounded table (groups × grid), the
    * percentile windows run over THAT table, and documents get their
    * bucket back through one un-hinted (group, score) equi-join. A
    * per-group `ntile` window over the documents themselves — the naive
    * form — would funnel every group's corpus slice through one
    * partition, the [[CorpusSelection]] sequential-window trap.
    *
    * Grid-granular by construction: equal scores land in the same bucket
    * (a bucket boundary inside a score tie would be an arbitrary doc
    * split — CCNet cuts on the score value too). A document is `head`
    * iff STRICTLY better-scored docs make up less than `headFrac` of its
    * group; boundary arithmetic is count·frac double compares, identical
    * cross-engine.
    */
  def perplexityBuckets(scored: DataFrame, groupCol: String,
      scoreCol: String, headFrac: Double = 1.0 / 3,
      middleFrac: Double = 2.0 / 3,
      bucketCol: String = "bucket"): DataFrame = {
    require(headFrac > 0 && headFrac <= middleFrac && middleFrac <= 1,
      s"bad fractions ($headFrac, $middleFrac)")
    // NOTE (r16 optimization round): deliberately NOT persisted even
    // though the frame feeds both the histogram and the join-back —
    // the two references are plan-identical, so ReuseExchange already
    // computes the chain once; a persist here measured SLOWER on q104
    // (6.3 -> 7.2 s: materialization cost without removing any work)
    val hist = scored.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__pb_c"))
    // windows over the bounded histogram, not the corpus
    val byScore = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy(col(groupCol))
    val cuts = hist
      .withColumn("__pb_above",
        coalesce(sum(col("__pb_c")).over(byScore), lit(0L)))
      .withColumn("__pb_tot", sum(col("__pb_c")).over(whole))
      .withColumn(bucketCol,
        when(col("__pb_above") < col("__pb_tot") * headFrac, "head")
          .when(col("__pb_above") < col("__pb_tot") * middleFrac, "middle")
          .otherwise("tail"))
      .select(col(groupCol), col(scoreCol), col(bucketCol))
    scored.join(cuts, Seq(groupCol, scoreCol)) // un-hinted join-back
  }
}
