package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-frequent n-gram ("boilerplate") detection — the C4/RefinedWeb
  * hygiene step that catches templated text (navigation chrome, cookie
  * banners, license headers) which per-document quality rules miss: a
  * document is flagged when too many of its n-grams are SHARED with many
  * other documents.
  *
  * 100 TB shape: one shuffle computes the gram → document-frequency map
  * (partial aggregation keeps the shuffle at one row per distinct gram);
  * the frequent-gram set (grams in ≥ `minDf` docs) joins back as a PLAIN
  * equi-join — at web scale even the ≥3-doc gram set is huge (templated
  * text is why this operator exists), so the join must be allowed to
  * degrade to a shuffle; AQE broadcasts it whenever the runtime size
  * fits (as it does at test scale). Per-document accounting is then one
  * aggregation on the doc id. Nothing all-pairs, nothing driver-side.
  */
object Boilerplate {

  /** Document frequency per distinct n-gram: (gram, df) where df counts
    * DOCUMENTS containing the gram (each doc contributes each gram once —
    * shingles are per-doc distinct).
    */
  def gramDocFrequencies(corpus: DataFrame, idCol: String, textCol: String,
      n: Int, tokensCol: Option[String] = None): DataFrame =
    grams(corpus, idCol, textCol, n, tokensCol)
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))

  /** Every row of `corpus` with per-doc boilerplate accounting:
    * `n_grams` (distinct n-grams in the doc), `n_frequent` (of those, how
    * many appear in ≥ `minDf` docs corpus-wide), and `is_boilerplate`
    * (`n_frequent / n_grams > maxFraction`).
    *
    * The (id, gram) explode feeds BOTH the df aggregation and the per-doc
    * accounting, so it is persisted for the duration of the call and its
    * ownership registered with the active [[graft.CacheScope]] (same
    * contract as `Dedup.dedupCorpus`) — without the cache the corpus
    * would be tokenized and shingled twice. `tokensCol` joins the
    * tokenize-once pipeline (see [[CorpusPipeline.prepare]]).
    */
  def flagBoilerplate(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDf: Long = 3, maxFraction: Double = 0.5,
      tokensCol: Option[String] = None): DataFrame = {
    val g = graft.CacheScope.register(
      grams(corpus, idCol, textCol, n, tokensCol).persist())
    val frequent = g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("gram"), lit(1).as("__freq"))
    // one aggregation does both counts: total grams and frequent grams.
    // NO broadcast hint on `frequent`: its cardinality is the count of
    // grams shared by >= minDf documents — for a heavily templated
    // 100 TB corpus that is corpus-scale, and a forced hint never
    // degrades (the driver would build the table and die). The plain
    // equi-join lets AQE pick broadcast exactly when the runtime size
    // fits, which is the degrade-to-shuffle story documented above.
    val perDoc = g
      .join(frequent, Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__freq"), lit(0))).cast("long").as("n_frequent"))
      .withColumn("is_boilerplate",
        col("n_frequent").cast("double") >
          col("n_grams").cast("double") * maxFraction)
    corpus.join(perDoc, Seq(idCol), "left")
      // zero-token docs produce one empty-string gram, so every doc HAS
      // grams; the left join is belt-and-braces for null text
      .na.fill(0L, Seq("n_grams", "n_frequent"))
      .na.fill(false, Seq("is_boilerplate"))
  }

  /** Document frequency per distinct physical LINE: (line, df) where
    * df counts DOCUMENTS carrying the line at least once. Line
    * identity is the raw string between `\n` separators — byte-exact,
    * no trimming — so the operator replays engine-for-engine; callers
    * wanting whitespace-insensitive matching normalize the text first.
    * The line STRING (not a hash) is the key, the [[SpanDedup]]
    * replayability convention: lines partition the text, so the
    * shuffle payload is ≈ corpus size with no ×k blowup for a hash to
    * claw back.
    */
  def lineDocFrequencies(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    lineRows(corpus, idCol, textCol)
      .select(col(idCol), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("df"))

  /** The lines duplicated across MORE than `maxDf` documents — the
    * static index side of the streaming removal form (a stream-static
    * anti-join on `line`), and the inspection table for "what would
    * [[removeDuplicatedLines]] delete".
    */
  def duplicatedLineIndex(corpus: DataFrame, idCol: String,
      textCol: String, maxDf: Long): DataFrame =
    lineDocFrequencies(corpus, idCol, textCol)
      .filter(col("df") > maxDf)

  /** Duplicate-LINE removal — the CCNet hygiene pass that
    * [[flagBoilerplate]]'s document-grain verdict cannot perform:
    * instead of dropping whole documents, delete every line that
    * occurs in MORE than `maxDf` distinct documents (navigation
    * chrome, cookie banners, share bars — template text that rides
    * inside otherwise-unique pages) and keep the rest of each document
    * intact. Returns all columns of `corpus` plus `n_lines`,
    * `n_removed`, and `clean_text` (surviving lines joined with `\n`
    * in original order; `""` when everything was boilerplate).
    *
    * Blank lines are lines: an empty string shared by > `maxDf`
    * documents is removed like any other duplicated line (CCNet's
    * behavior — blank separators are the most-duplicated "line" on
    * the web). Null text yields zero lines and an empty rewrite.
    *
    * 100 TB shape: one line explode (map-only), one partial-agg
    * shuffle to the (line, df) table, one UN-hinted equi-join back on
    * the line string (the duplicated-line set is corpus-scale for a
    * heavily templated crawl — the [[flagBoilerplate]] degrade-to-
    * shuffle story; AQE broadcasts it when the runtime size fits), and
    * one doc-grain reassembly aggregation. The exploded lines feed
    * both the df aggregation and the rebuild, so they are persisted
    * under the active [[graft.CacheScope]] (the `Dedup.dedupCorpus`
    * contract).
    */
  def removeDuplicatedLines(corpus: DataFrame, idCol: String,
      textCol: String, maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"bad maxDf $maxDf")
    val ln = graft.CacheScope.register(
      lineRows(corpus, idCol, textCol).persist())
    val dup = ln.select(col(idCol), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("line"), lit(1).as("__dup"))
    val rebuilt = ln
      .join(dup, Seq("line"), "left") // un-hinted: see Scaladoc
      .withColumn("__d", coalesce(col("__dup"), lit(0)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("__d")).cast("long").as("n_removed"),
        array_join(transform(filter(
          array_sort(collect_list(struct(col("__ln_pos").as("p"),
            col("__d").as("d"), col("line").as("l")))),
          x => x.getField("d") === 0), x => x.getField("l")), "\n")
          .as("clean_text"))
    corpus.join(rebuilt, Seq(idCol), "left")
      .na.fill(0L, Seq("n_lines", "n_removed"))
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
  }

  /** [[removeDuplicatedLines]] against a PREBUILT duplicated-line
    * index ([[duplicatedLineIndex]] output, or any (line) frame) —
    * the incremental/streaming form: a delta batch is cleaned against
    * yesterday's corpus index without re-counting corpus frequencies
    * (the `UrlDedup.flagAgainstIndex` convention; run it through
    * [[graft.streaming.Streams.perBatch]] for a streaming delta — the
    * per-doc rebuild is a doc-grain aggregation, legal there and
    * batch-identical). Same output contract as [[removeDuplicatedLines]].
    */
  def removeLinesAgainstIndex(delta: DataFrame, index: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val dup = index.select(col("line"), lit(1).as("__dup"))
    val rebuilt = lineRows(delta, idCol, textCol)
      .join(dup, Seq("line"), "left")
      .withColumn("__d", coalesce(col("__dup"), lit(0)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("__d")).cast("long").as("n_removed"),
        array_join(transform(filter(
          array_sort(collect_list(struct(col("__ln_pos").as("p"),
            col("__d").as("d"), col("line").as("l")))),
          x => x.getField("d") === 0), x => x.getField("l")), "\n")
          .as("clean_text"))
    delta.join(rebuilt, Seq(idCol), "left")
      .na.fill(0L, Seq("n_lines", "n_removed"))
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
  }

  /** (id, position, line) — one row per physical line. `split` with
    * its default unlimited limit keeps trailing empties, so blank
    * lines keep their positions and the rebuild is lossless.
    */
  private def lineRows(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame =
    corpus
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .toDF(idCol, "__ln_pos", "line")

  /** (id, gram) pairs, one row per DISTINCT gram per doc. Tokens are
    * materialized in their own projection before the shingle transform
    * (the higher-order-function re-evaluation trap — see
    * [[graft.functions.TextFunctions.shinglesOf]]), or taken from the
    * caller's `tokensCol` under the tokenize-once contract.
    */
  private def grams(corpus: DataFrame, idCol: String, textCol: String,
      n: Int, tokensCol: Option[String]): DataFrame =
    corpus
      .withColumn("__bp_toks",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col(idCol),
        explode(TF.shinglesOf(col("__bp_toks"), n)).as("gram"))
}
