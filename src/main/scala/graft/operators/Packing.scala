package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the concat-and-chunk step that turns a cleaned,
  * selected corpus into fixed-length training sequences: documents are
  * concatenated in id order and the token stream is cut into
  * consecutive `seqLen`-token sequences, each document contributing one
  * span row per sequence it overlaps. This is the standard GPT-style
  * packing (no padding, documents straddle sequence boundaries); the
  * output is the (sequence, document-span) assignment a tokenized-shard
  * writer consumes.
  *
  * 100 TB shape: the whole operator is ONE tokenize-count pass plus a
  * two-level prefix sum — never a global single-partition window over
  * the corpus. Ids bucket by `id >> bucketShift`; the within-bucket
  * running totals window partitions BY BUCKET (parallel across
  * buckets), and only the per-bucket totals — `maxId >> bucketShift`
  * tiny rows, millions at 10^11 docs, a few MB in one task — cumulate
  * through the one unpartitioned window (the [[Keywords.heapsFit]]
  * bounded-window device; `bucketShift` trades bucket-table size
  * against per-bucket skew). The span explode emits ~`L/seqLen + 1`
  * rows per document. No driver state at all.
  *
  * Determinism: id order fully defines the packing (ids are unique), so
  * an oracle replays every span exactly; all arithmetic is integer
  * (`DIV`, never a float division that could round a boundary token
  * across a sequence).
  */
object Packing {

  /** Pack `docs` into `seqLen`-token sequences. Returns one row per
    * (document, overlapped sequence): `(idCol, seq_id, doc_from,
    * doc_to, seq_off)` — token indices `[doc_from, doc_to)` of the
    * document (0-based) land in sequence `seq_id` starting at offset
    * `seq_off` within the sequence. Zero-token documents emit no rows
    * (they contribute nothing to the stream). The final sequence is
    * partial unless the total token count divides `seqLen`. Ids must
    * be UNIQUE (the library-wide id contract): duplicate ids would
    * make the within-bucket running total's tie order — and therefore
    * which duplicate gets which offset — nondeterministic.
    *
    * `tokensCol` joins the tokenize-once contract (see
    * [[CorpusPipeline.prepare]]): pass a materialized token-array
    * column to skip the regexp pass.
    *
    * `startOffset` places the first token of this corpus at a global
    * stream position > 0 — the incremental form: packing shard k of an
    * id-ordered corpus with the token total of shards < k as the
    * offset yields exactly the spans whole-corpus packing would. On an
    * id-ordered stream the offset is the one long a
    * [[graft.streaming.Streams.fold]] carries: each batch packs at it
    * and advances it by `sum(doc_to − doc_from)` (PackStreamSpec).
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int, tokensCol: Option[String] = None,
      bucketShift: Int = 16, startOffset: Long = 0L): DataFrame = {
    require(seqLen >= 1, s"bad seqLen $seqLen")
    require(bucketShift >= 0 && bucketShift <= 48,
      s"bad bucketShift $bucketShift")
    require(startOffset >= 0, s"bad startOffset $startOffset")
    val perDoc = docs
      .withColumn("__pk_toks",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col(idCol).cast("long").as("__pk_id"),
        size(col("__pk_toks")).cast("long").as("__pk_n"))
      .filter(col("__pk_n") > 0)
      .withColumn("__pk_b", shiftright(col("__pk_id"), bucketShift))
    // within-bucket running totals: parallel across buckets. The
    // windowed frame is persisted (scope-registered) because BOTH the
    // bucket-total derivation and the offset join consume it — without
    // the cache each branch re-runs the tokenize-count scan and the
    // bucket shuffle (measured as two FileScans; AQE does not reuse
    // the stages). Each bucket's TOTAL is its max running cumsum, so
    // no second aggregation over the raw corpus exists at all.
    val wIn = Window.partitionBy(col("__pk_b")).orderBy(col("__pk_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = graft.CacheScope.register(perDoc
      .withColumn("__pk_cum", sum(col("__pk_n")).over(wIn))
      .persist())
    val bucketOff = Ranks.withOrderedPrefixScan(
        local.groupBy(col("__pk_b"))
          .agg(max(col("__pk_cum")).as("__pk_bt")),
        Seq(col("__pk_b")), Seq("__pk_bt" -> "__pk_bc"))
      .withColumn("__pk_boff", col("__pk_bc") - col("__pk_bt"))
      .select(col("__pk_b"), col("__pk_boff"))
    // global token offset o = bucket offset + local cumsum − own length;
    // the join is bucket-grain (bounded) — AQE broadcasts when it fits
    val off = local.join(bucketOff, Seq("__pk_b"))
      .withColumn("__pk_o",
        lit(startOffset) + col("__pk_boff") + col("__pk_cum")
          - col("__pk_n"))
    spanRows(off, idCol, seqLen, Seq.empty)
  }

  /** Group-aware packing: the [[packSequences]] concat-and-chunk run
    * INDEPENDENTLY inside each `groupCol` value — sequences never mix
    * groups, and `seq_id` counts from 0 within each group. The
    * language-pure / source-pure batch recipe: a curriculum or
    * per-language training run wants every sequence drawn from one
    * slice, which global packing cannot guarantee at any boundary.
    *
    * Same two-level prefix sum with the group key threaded through
    * every stage — the within-bucket windows partition by (group,
    * bucket) and the bucket-table cumsum partitions BY GROUP (bounded
    * per group, parallel ACROSS groups — strictly better parallelism
    * than the global form's one bucket table). Returns
    * `(groupCol, idCol, seq_id, doc_from, doc_to, seq_off)`.
    */
  def packSequencesBy(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, seqLen: Int, tokensCol: Option[String] = None,
      bucketShift: Int = 16): DataFrame = {
    require(seqLen >= 1, s"bad seqLen $seqLen")
    require(bucketShift >= 0 && bucketShift <= 48,
      s"bad bucketShift $bucketShift")
    val perDoc = docs
      .withColumn("__pk_toks",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col(groupCol), col(idCol).cast("long").as("__pk_id"),
        size(col("__pk_toks")).cast("long").as("__pk_n"))
      .filter(col("__pk_n") > 0)
      .withColumn("__pk_b", shiftright(col("__pk_id"), bucketShift))
    val wIn = Window.partitionBy(col(groupCol), col("__pk_b"))
      .orderBy(col("__pk_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = graft.CacheScope.register(perDoc
      .withColumn("__pk_cum", sum(col("__pk_n")).over(wIn))
      .persist())
    val wB = Window.partitionBy(col(groupCol)).orderBy(col("__pk_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOff = local
      .groupBy(col(groupCol), col("__pk_b"))
      .agg(max(col("__pk_cum")).as("__pk_bt"))
      .withColumn("__pk_boff",
        coalesce(sum(col("__pk_bt")).over(wB), lit(0L)))
      .select(col(groupCol), col("__pk_b"), col("__pk_boff"))
    val off = local.join(bucketOff, Seq(groupCol, "__pk_b"))
      .withColumn("__pk_o",
        col("__pk_boff") + col("__pk_cum") - col("__pk_n"))
    spanRows(off, idCol, seqLen, Seq(groupCol))
  }

  /** The span arithmetic shared by the global and grouped forms:
    * sequences s0..s1 each doc overlaps — integer DIV only.
    */
  private def spanRows(off: DataFrame, idCol: String, seqLen: Int,
      carryCols: Seq[String]): DataFrame = {
    val spans = off
      .withColumn("__pk_s0", expr(s"__pk_o DIV $seqLen"))
      .withColumn("__pk_s1", expr(s"(__pk_o + __pk_n - 1) DIV $seqLen"))
      .select(carryCols.map(col) ++ Seq(col("__pk_id"), col("__pk_o"),
        col("__pk_n"),
        explode(sequence(col("__pk_s0"), col("__pk_s1"))).as("seq_id")): _*)
    val seqStart = col("seq_id") * lit(seqLen.toLong)
    spans.select(carryCols.map(col) ++ Seq(
      col("__pk_id").as(idCol),
      col("seq_id"),
      (greatest(col("__pk_o"), seqStart) - col("__pk_o")).as("doc_from"),
      (least(col("__pk_o") + col("__pk_n"), seqStart + lit(seqLen.toLong))
        - col("__pk_o")).as("doc_to"),
      (greatest(col("__pk_o"), seqStart) - seqStart).as("seq_off")): _*)
  }

  /** Per-sequence fill accounting over a [[packSequences]] result:
    * `(seq_id, n_docs, n_tokens)` — every sequence must hold exactly
    * `seqLen` tokens except the last. One doc-span-grain aggregation;
    * the audit a shard writer runs before materializing.
    */
  def sequenceFill(packed: DataFrame): DataFrame =
    packed.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_to") - col("doc_from")).as("n_tokens"))

  /** Materialized sequence payloads — the actual shard-writer output:
    * one row per sequence `(seq_id, n_tokens, toks)` with the
    * sequence's tokens in stream order, assembled by slicing each
    * overlapping document's token array at its [[packSequences]] span
    * and stitching the chunks by `seq_off`.
    *
    * 100 TB shape: the corpus tokenizes ONCE (the array is materialized
    * into a scope-registered cache consumed by both the span arithmetic
    * and the chunk join); the span→tokens join is an un-hinted id
    * equi-join; assembly is one groupBy(seq_id) whose per-group chunk
    * list is bounded by the documents overlapping ONE sequence
    * (~seqLen/avg_doc_len + 1 — config-sized, never corpus-sized).
    */
  def packedSequenceTexts(docs: DataFrame, idCol: String,
      textCol: String, seqLen: Int, tokensCol: Option[String] = None,
      bucketShift: Int = 16): DataFrame = {
    val base = graft.CacheScope.register(docs
      .withColumn("__pk_t",
        tokensCol.map(col).getOrElse(TF.tokens(col(textCol))))
      .select(col(idCol), col("__pk_t"))
      .persist())
    // textCol is never evaluated when tokensCol is supplied, so `base`
    // (id + token array only) is a valid packSequences input
    val spans = packSequences(base, idCol, textCol, seqLen,
      Some("__pk_t"), bucketShift)
    spans.join(base, Seq(idCol))
      .select(col("seq_id"), col("seq_off"),
        slice(col("__pk_t"), col("doc_from") + 1,
          col("doc_to") - col("doc_from")).as("chunk"))
      .groupBy(col("seq_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("seq_off"), col("chunk")))),
        s => s.getField("chunk"))).as("toks"))
      .select(col("seq_id"), size(col("toks")).cast("long").as("n_tokens"),
        col("toks"))
  }
}
