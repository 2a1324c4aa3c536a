package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale document pipelines: tokenizing,
  * token statistics, quality scoring, canonical fingerprinting, n-gram
  * shingling and a stopword-profile language heuristic.
  *
  * All of these are pure `Column` combinators over Spark builtins — no UDFs
  * — so they stay inside Catalyst's expression space (prunable, pushable,
  * parallel by row with no serialization overhead).
  */
object TextFunctions {

  /** Stopword profiles for the language-ID heuristic. */
  val EnStop: Seq[String] = Seq(
    "the", "a", "an", "and", "of", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "this", "by", "at", "or", "be", "are")
  val DeStop: Seq[String] = Seq(
    "der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "den",
    "von", "mit", "auf", "für", "im", "dem", "sich", "des", "ich", "es")
  val FrStop: Seq[String] = Seq(
    "le", "la", "les", "et", "est", "un", "une", "des", "du", "que", "qui",
    "dans", "pour", "pas", "sur", "avec", "au", "il", "elle", "ne")

  /** Lowercased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Character n-grams over the LOWERCASED text (fastText-style langid
    * features — boundaries and spaces included); texts shorter than `n`
    * yield the whole lowered string as their single gram (the
    * [[ngramsOf]] short-input convention). Both engines slice by
    * CODEPOINT (Spark `substr`, DuckDB `substr`), so grams agree
    * beyond ASCII.
    */
  def charGrams(text: Column, n: Int): Column = {
    val t = lower(text)
    when(length(t) >= n,
      transform(sequence(lit(0), length(t) - n), i => t.substr(i + 1, lit(n))))
      .otherwise(array(t))
  }

  /** Count of characters matching the character-class regex `cls`
    * (e.g. "[A-Za-z]"): length minus length after stripping the class.
    * Pure codegen'd string ops; the SQL mirror is the same
    * length-difference over `regexp_replace(..., 'g')`. Both engines
    * count CODEPOINTS (Spark `length` = UTF8String.numChars, DuckDB
    * `length` = unicode length), so the counts agree beyond ASCII.
    */
  def charClassCount(text: Column, cls: String): Column =
    length(text) - length(regexp_replace(text, cls, ""))

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text)))

  /** How many tokens fall inside `words` (a literal set). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Ratio-free integer quality signals: (#stopword hits, #tokens,
    * #punctuation chars, #chars). Downstream thresholds stay on an integer
    * grid so results are engine-portable.
    */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?'\"()-]", ""))

  /** Integer quality score: stopword evidence + length band + low-punct
    * bonus. Deterministic, oracle-checkable.
    */
  def qualityScore(text: Column, nChars: Column): Column = {
    val toks = tokens(text)
    val stop = stopwordHits(toks, EnStop)
    stop * lit(2) +
      when(nChars.between(100, 2000), 5).otherwise(0) +
      when(punctCount(text) * lit(20) <= nChars, 3).otherwise(0)
  }

  /** Canonical key-collision fingerprint (OpenRefine-style): md5 of the
    * sorted distinct token list. Two documents that differ only in token
    * order/duplication/whitespace collide.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** Word n-gram shingles (arrays of `n` consecutive tokens joined by a
    * space) — the dedup unit for MinHash / Jaccard.
    *
    * NOTE: this form inlines the tokenization into the `transform` lambda,
    * and higher-order functions re-evaluate their argument subtree PER
    * ELEMENT — the regexp split runs once per shingle, O(tokens²) per
    * document. Fine for one-off expressions over short text; any hot path
    * must project the token array to a column first and use
    * [[shinglesOf]] (measured 4.5 s → 0.2 s on the sf0.1 corpus side of
    * [[graft.operators.Contamination]]).
    */
  def shingles(text: Column, n: Int): Column = shinglesOf(tokens(text), n)

  /** [[shingles]] over an already-materialized token array column — the
    * hot-path form: the lambda references the column, so tokenization
    * cost is paid once per row, not once per shingle.
    */
  def shinglesOf(toks: Column, n: Int): Column =
    array_distinct(ngramsOf(toks, n))

  /** Stopword-profile language heuristic over en/de/fr; "und" when no
    * profile matches. Ties resolve en > de > fr (deterministic).
    */
  def langId(text: Column): Column = langIdOf(tokens(text))

  /** [[langId]] over an already-materialized token array column — the
    * tokenize-once form (three stopword profiles read the same array;
    * the inline form re-runs the regexp split per profile).
    */
  def langIdOf(toks: Column): Column = {
    val en = stopwordHits(toks, EnStop)
    val de = stopwordHits(toks, DeStop)
    val fr = stopwordHits(toks, FrStop)
    when(en >= de && en >= fr && en > 0, "en")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Fixed-size token chunks with overlap — the standard unit for
    * context-window-bounded training/embedding. Chunk i covers tokens
    * `[i·stride, i·stride + size)` where `stride = size - overlap`; the
    * last partial chunk is kept. Pure Column combinator: pairs with
    * `posexplode` to one row per chunk.
    */
  def chunks(text: Column, chunkSize: Int, overlap: Int): Column =
    chunksOf(tokens(text), chunkSize, overlap)

  /** [[chunks]] over an already-materialized token array COLUMN — the
    * hot-path form (tokenize-once contract): the chunk lambda references
    * `toks` per element, so passing the inline `tokens(text)` expression
    * re-runs the regexp split once per chunk (the HOF re-evaluation
    * trap); pass a materialized column and it is a row-field read.
    */
  def chunksOf(toks: Column, chunkSize: Int, overlap: Int): Column = {
    require(overlap < chunkSize, "overlap must be smaller than chunk size")
    val stride = chunkSize - overlap
    val nChunks = greatest(
      ceil((size(toks) - lit(overlap)).cast("double") / stride).cast("int"),
      lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * stride + 1, lit(chunkSize)), " "))
  }

  /** 64-bit polynomial rolling hash of the token stream (base 31 over
    * FNV-1a token hashes, wrapping long arithmetic) — an order-sensitive
    * document fingerprint. A UDF, not a Column fold: under ANSI mode
    * (Spark 4 default) SQL long arithmetic THROWS on overflow, while a
    * rolling hash requires wrap-around; JVM arithmetic wraps, and the
    * FNV-1a token hash keeps the value engine-independent (DuckDB oracle
    * replays it in HUGEINT mod 2^64 — gate query q58).
    */
  def rollingHash(text: Column): Column = rollingUdf(tokens(text))

  private val rollingUdf = udf { (toks: Seq[String]) =>
    var acc = 0L
    if (toks != null)
      toks.foreach(t => acc = acc * 31L + DedupFunctions.fnv1a64(t))
    acc
  }

  /** ALL word n-grams, duplicates kept — the counting base for repetition
    * metrics (unlike [[shingles]], which deduplicates for set-collision
    * use). Fewer than `n` tokens → the single whole-document gram.
    *
    * Prefer [[ngramsOf]] over a pre-materialized token COLUMN when the
    * result feeds several expressions: passing `tokens(text)` inline
    * means the regexp split re-runs per lambda element.
    */
  def ngrams(text: Column, n: Int): Column = ngramsOf(tokens(text), n)

  /** [[ngrams]] over an already-computed token array column. */
  def ngramsOf(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array(array_join(toks, " ")))

  /** PII scrubbing for training text: emails → `[EMAIL]`, 9+-digit runs
    * (phone/account/ssn-shaped) → `[NUM]`. Patterns are deliberately
    * lookaround-free so Java regex (Spark) and RE2 (DuckDB oracle, most
    * scale-out scanners) agree byte-for-byte. Pure `regexp_replace`
    * chain — codegen'd, no UDF.
    */
  /** Vowel-run count — the standard syllable proxy behind readability
    * scores (Flesch/SMOG use syllables; a vowel GROUP approximates one
    * syllable): number of maximal `[aeiou]+` runs in the (lowercased)
    * string. `split` keeps leading/trailing empties identically in
    * Spark and DuckDB's regexp_split_to_array, so `len(parts) − 1` is
    * the run count in both engines.
    */
  def vowelRuns(s: Column): Column =
    size(split(lower(s), "[aeiou]+")) - 1

  def maskPii(text: Column): Column = {
    val noEmail = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]")
    regexp_replace(noEmail, "[0-9]{9,}", "[NUM]")
  }

  /** Duplicated-n-gram fraction (the C4/Gopher-style repetition quality
    * signal): share of n-gram occurrences that are repeats of an earlier
    * occurrence, `(total - distinct) / total`. 0 = no repetition; near 1 =
    * the document is one phrase looping. Pure Column combinator — O(grams)
    * per row, no shuffle, no UDF.
    */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val grams = ngrams(text, n)
    when(size(grams) === 0, lit(0.0)).otherwise(
      (size(grams) - size(array_distinct(grams))).cast("double") /
        size(grams))
  }
}
