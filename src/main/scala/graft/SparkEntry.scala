package graft

import graft.functions.{ContentTypes, DedupFunctions, FileNames, Grid, Slugify, TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Contamination, CorpusPipeline, Dedup, Multimodal, QualityFilters, Sampling, SetSimJoin, Similarity, SkewJoins}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Each `queries` entry exercises one operator family of the engine
  * (SURVEY.md §2 plus the LLM-pipeline extensions) over the driver's
  * TPC-H-ish parquet. Every entry of the one `registry` carries its build
  * and its DuckDB oracle (`oracleSql`), with IDENTICAL column names and
  * deterministic ordering/rounding.
  *
  * Portability rules used throughout (so value hashes match DuckDB):
  * money sums are rounded at the grid of the underlying data (2-decimal
  * columns → round 2; 2×2-decimal products → round 4); float vector math is
  * cast to double before accumulating; possibly-empty result sets are
  * emitted as counts; raw doubles are only emitted when they come straight
  * from parquet or from identical-operand arithmetic.
  */
object SparkEntry {

  /** Table reader with a widen-if-narrow guard for the PER-ROW-HEAVY
    * tables: documents and embeddings feed tokenize/shingle/hash and
    * distance-array map stages whose cost is per row, and the test
    * tables ship as single-row-group parquet that no
    * `maxPartitionBytes` setting can split — those stages would
    * otherwise run on ONE core. Repartition to the session
    * parallelism when the scan arrives narrower; at corpus scale
    * scans carry far more partitions than cores and the guard is a
    * no-op. The relational tables (lineitem/orders/...) are NOT
    * widened: their queries lead with partial aggregation, and
    * forcing an exchange before the partial agg would shuffle raw
    * rows that the map-side combine is there to shrink — the
    * aggregate-before-exchange rule outranks scan parallelism for
    * cheap-per-row work.
    */
  private val WidenTables = Set("documents", "embeddings")
  private def T(s: SparkSession, dir: String, n: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$n.parquet")
    val par = s.sparkContext.defaultParallelism
    if (WidenTables.contains(n) && df.rdd.getNumPartitions < par)
      df.repartition(par)
    else df
  }

  /** The events table's `ts` has shipped in two parquet generations:
    * TIMESTAMP(NANOS), which Spark only reads as raw longs
    * (`spark.sql.legacy.parquet.nanosAsLong` — the data has no
    * sub-microsecond components, so integer `ts div 1000` micros is a
    * lossless rebuild; integer `div` because epoch-nanos ~1.7e18 exceed
    * double's exact range), and TIMESTAMP(MICROS), which reads as a
    * timestamp column directly. Dispatch on the OBSERVED column type so
    * both generations work unchanged — the DuckDB oracle reads either
    * natively, so only this side needs the adapter.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTs(T(s, dir, "events"))
  }

  /** The events table's `ts` as a plain TIMESTAMP column, whichever
    * parquet generation `df` was read from (see [[events]]); `df` must
    * be read with `nanosAsLong` set.
    */
  private[graft] def eventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session TZ is UTC, so NTZ→TIMESTAMP keeps the wall clock and
        // restores the exact column type every downstream query (e.g.
        // q32's unix_micros) was written against
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue per region: the full dim-join chain with broadcast dims.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = T(spark, dir, "lineitem")
    val sup = T(spark, dir, "supplier")
    val nat = T(spark, dir, "nation")
    val reg = T(spark, dir, "region")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("r_name"))
  }

  // Shared token expression for the documents table (matches the DuckDB
  // fragment `TOKS` below).
  private def toks(c: Column): Column = TF.tokens(c)
  private val ToksSql = HashOracles.Toks // ONE canonical tokenizer fragment

  /** The web-corpus URL synthesizer shared by q372/q379/q382: three
    * fetch variants per target page (scheme/host case + www + default
    * port + trailing slash; tracking param; fragment), page identity =
    * `doc_id div 3`, host spread over 7 virtual hosts. Mirrored
    * textually by the oracle CTEs ([[HashOracles]]).
    */
  // the multilingual synth corpus for the script-aware dedup family
  // (q391/q394/q397): per base page, zh codepoint-permutation dups
  // under zh/zh-tw labels, ru token-permutation dups under mislabeled
  // locales, a Latin singleton control
  private def scriptSynth(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr("doc_id div 5").as("__b"))
      .withColumn("lang",
        when(col("doc_id") % 5 === 0, lit("zh"))
        .when(col("doc_id") % 5 === 1, lit("zh-tw"))
        .when(col("doc_id") % 5 === 2, lit("ru"))
        .when(col("doc_id") % 5 === 3, lit("ru-md"))
        .otherwise(lit("en")))
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(
          lit("机器学习模型"), col("__b"), lit("号")))
        .when(col("doc_id") % 5 === 1, concat(
          lit("模型。机器, 学习 "), col("__b"), lit("号")))
        .when(col("doc_id") % 5 === 2, concat(
          lit("модель машинного обучения "), col("__b")))
        .when(col("doc_id") % 5 === 3, concat(
          lit("обучения, модель — машинного "), col("__b")))
        .otherwise(concat(lit("machine learning model "),
          col("__b"))))
      .drop("__b")

  // the Thai/Lao synth corpus for the bigram-shingle dedup family
  // (q399): per base page, a th pair whose variants keep the SAME
  // Thai runs but differ in surrounding punctuation and token order
  // (the re-crawl device — runs intact, dressing changed), a lo pair
  // likewise, and a Latin singleton control. Combining marks fold
  // away inside the runs (they are \p{M}, not \p{L}), so the
  // fingerprint is tone-insensitive by construction.
  private def thaiSynth(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr("doc_id div 5").as("__b"))
      .withColumn("lang",
        when(col("doc_id") % 5 === 0, lit("th"))
        .when(col("doc_id") % 5 === 1, lit("th-x"))
        .when(col("doc_id") % 5 === 2, lit("lo"))
        .when(col("doc_id") % 5 === 3, lit("lo-x"))
        .otherwise(lit("en")))
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(
          lit("การเรียนรู้ ของเครื่อง "), col("__b")))
        .when(col("doc_id") % 5 === 1, concat(
          lit("ของเครื่อง, การเรียนรู้! "), col("__b")))
        .when(col("doc_id") % 5 === 2, concat(
          lit("ການຮຽນຮູ້ ເຄື່ອງຈັກ "), col("__b")))
        .when(col("doc_id") % 5 === 3, concat(
          lit("ເຄື່ອງຈັກ — ການຮຽນຮູ້ "), col("__b")))
        .otherwise(concat(lit("machine learning model "),
          col("__b"))))
      .drop("__b")

  // the multi-line synth corpus for the duplicated-line removal family
  // (q406 + the streaming form): three header/footer template variants
  // (doc_id % 3) wrap each document's own 12-token middle chunks —
  // headers/footers are each shared by ~a third of the corpus
  // (df >> maxDf, removed), middles are mostly unique (kept); whatever
  // middle chunks the tiny fixture vocabulary happens to duplicate
  // beyond maxDf are removed too, and the oracle replays the same rule.
  private def lineSynth(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      concat_ws("\n",
        concat(lit("subscribe to the newsletter variant "),
          col("doc_id") % 3),
        array_join(TF.chunksOf(toks(col("text")), 12, 0), "\n"),
        concat(lit("copyright footer variant "), col("doc_id") % 3))
        .as("text"))

  // the width-variant synth corpus for the width-fold family (q408):
  // page identity = doc_id div 2; the even twin carries mixed
  // zh + ASCII content in plain ASCII spelling, the odd twin the SAME
  // content re-spelled through the fullwidth block — produced by the
  // REVERSE translate of the same map, so the pair is exact by
  // construction and the oracle mirrors it with the same two literals.
  private def widthSynth(docs: DataFrame): DataFrame = {
    val base = concat(lit("模型训练数据 gpu"), expr("doc_id div 2"),
      lit(" benchmark 2024 edition"))
    docs.select(col("doc_id"), expr("doc_id div 2").as("pair_id"))
      .withColumn("text", when(col("doc_id") % 2 === 1,
        translate(base, graft.operators.CrossLingual.WidthTo,
          graft.operators.CrossLingual.WidthFrom))
        .otherwise(base))
  }

  // the invisible-character synth corpus for the canonical-key family
  // (q411): page identity = doc_id div 2; the odd twin carries the
  // SAME mixed zh + ASCII content with a stray BOM, a zero-width
  // space inside "pipeline" and a soft hyphen inside "cleanup" — the
  // re-crawl variant class every token-shaped key misses (the Cf
  // characters split tokens instead of vanishing)
  private def invisSynth(docs: DataFrame): DataFrame = {
    val base = concat(lit("数据清洗 data pipeline cleanup "),
      expr("doc_id div 2"))
    val dressed = concat(
      lit("\ufeff数据清洗 data pipe\u200bline" +
        "\u0020clean\u00adup "),
      expr("doc_id div 2"))
    docs.select(col("doc_id"), expr("doc_id div 2").as("pair_id"))
      .withColumn("text", when(col("doc_id") % 2 === 1, dressed)
        .otherwise(base))
  }

  // the canonical-stack incremental synth (q415): per pair a plain
  // zh+ASCII corpus row (lang zh, even ids) and a delta twin dressed
  // with a BOM, a fullwidth re-spelled tag (reverse width translate)
  // and a soft hyphen inside a word (lang zh-tw, odd ids) — every
  // delta doc must match its corpus partner ONLY under the full
  // canonical key
  private def canonSynth(docs: DataFrame): DataFrame = {
    val CL = graft.operators.CrossLingual
    val tag = concat(lit("gpu"), expr("doc_id div 2"),
      lit(" benchmark"))
    val base = concat(lit("模型训练 gpu"), expr("doc_id div 2"),
      lit(" benchmark cleanup"))
    val dressed = concat(lit("\ufeff模型训练 "),
      translate(tag, CL.WidthTo, CL.WidthFrom),
      lit(" clean\u00adup"))
    docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 1, lit("zh-tw")).otherwise(lit("zh"))
        .as("lang"),
      when(col("doc_id") % 2 === 1, dressed).otherwise(base)
        .as("text"))
  }

  // the code-switch synth corpus for the chunk-grain language audit
  // (q410): every doc opens with its own first 24 tokens (en-ish
  // fixture text), then doc_id % 4 == 1 drifts into a German tail,
  // % 4 == 2 into a French tail, everything else stays English — the
  // planted mixed docs are the % 4 ∈ {1,2} rows (whether each reads
  // as mixed also depends on the head chunks' own stopword hits; the
  // gate is value-exact, not a semantic claim).
  private def mixSynth(docs: DataFrame): DataFrame = {
    val head = array_join(slice(toks(col("text")), 1, 24), " ")
    docs.select(col("doc_id"),
      when(col("doc_id") % 4 === 1, concat(head, lit(" der die das " +
        "und ist nicht ein eine zu den von mit auf dem sich des")))
        .when(col("doc_id") % 4 === 2, concat(head, lit(" le la les " +
          "et est une dans pour pas sur avec au il elle ne que")))
        .otherwise(concat(head,
          lit(" the and of to in is it that for on with as")))
        .as("text"))
  }

  private def webUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), col("lang"),
      expr("doc_id div 3").as("__base"))
      .withColumn("url",
        when(col("doc_id") % 3 === 0, concat(
          lit("HTTPS://WWW.host"), col("__base") % 7,
          lit(".example.org:443/docs/"), col("__base"),
          lit("/?b=2&utm_source=feed&a=1")))
        .when(col("doc_id") % 3 === 1, concat(
          lit("https://host"), col("__base") % 7,
          lit(".example.org/docs/"), col("__base"),
          lit("?a=1&fbclid=x"), col("doc_id"), lit("&b=2")))
        .otherwise(concat(
          lit("https://host"), col("__base") % 7,
          lit(".example.org/docs/"), col("__base"),
          lit("/?b=2&a=1#frag-"), col("doc_id"))))
      .drop("__base")

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  // Gopher-signal CTE chain (q134, reused by the q143 capstone): ends
  // in `m(doc_id, n_words, tot_chars, mwl, awf, swr, tf, df)`; the
  // default-threshold first-failing-rule CASE is GopherDropSql.
  private val GopherCtes: String =
    s"""tk AS (SELECT doc_id, text, $ToksSql AS t FROM documents),
       |base AS (SELECT doc_id, t, len(t) AS L,
       |  CAST(coalesce(list_sum(list_transform(t, x -> len(x))), 0)
       |    AS BIGINT) AS tot_chars,
       |  len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
       |    AS n_alpha,
       |  CAST((length(text) - length(replace(text, '#', '')))
       |    + (length(text) - length(replace(text, '...', ''))) // 3
       |    AS BIGINT) AS n_symbols
       |  FROM tk),
       |g AS (SELECT doc_id, i, array_to_string(t[i + 1 : i + 2], ' ')
       |    AS gram
       |  FROM (SELECT doc_id, t, unnest(range(0, L - 1)) AS i
       |        FROM base WHERE L >= 2)),
       |c AS (SELECT doc_id, gram, count(*) AS cnt,
       |  CAST(len(gram) - 1 AS BIGINT) AS charlen
       |  FROM g GROUP BY 1, 2),
       |top AS (SELECT doc_id, cnt * charlen AS top_chars FROM
       |  (SELECT doc_id, cnt, charlen, row_number() OVER
       |     (PARTITION BY doc_id
       |      ORDER BY cnt DESC, charlen DESC, gram DESC) AS rn
       |   FROM c) WHERE rn = 1),
       |d AS (SELECT doc_id, gram FROM c WHERE cnt > 1),
       |cov AS (SELECT DISTINCT g.doc_id, g.i + k.k AS idx
       |  FROM g JOIN d USING (doc_id, gram),
       |    (SELECT unnest(range(0, 2)) AS k) k),
       |covc AS (SELECT cov.doc_id,
       |  CAST(sum(len(t[idx + 1])) AS BIGINT) AS cov_chars
       |  FROM cov JOIN base ON cov.doc_id = base.doc_id GROUP BY 1),
       |m AS (SELECT b.doc_id, L AS n_words, tot_chars,
       |  CASE WHEN L > 0 THEN tot_chars * 1.0 / L END AS mwl,
       |  CASE WHEN L > 0 THEN n_alpha * 1.0 / L END AS awf,
       |  CASE WHEN L > 0 THEN n_symbols * 1.0 / L END AS swr,
       |  CASE WHEN tot_chars > 0
       |    THEN coalesce(top_chars, 0) * 1.0 / tot_chars END AS tf,
       |  CASE WHEN tot_chars > 0
       |    THEN coalesce(cov_chars, 0) * 1.0 / tot_chars END AS df
       |  FROM base b LEFT JOIN top USING (doc_id)
       |    LEFT JOIN covc ON b.doc_id = covc.doc_id)""".stripMargin

  private val GopherDropSql: String =
    """CASE WHEN n_words < 20 THEN 'min_words'
      |    WHEN n_words > 100000 THEN 'max_words'
      |    WHEN mwl < 2.0 OR mwl > 10.0 THEN 'mean_word_len'
      |    WHEN swr > 0.1 THEN 'symbol_ratio'
      |    WHEN awf < 0.8 THEN 'alpha_frac'
      |    WHEN tf > 0.20 THEN 'top_ngram'
      |    WHEN df > 0.20 THEN 'dup_ngram'
      |  END""".stripMargin

  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter($ToksSql, t -> t IN ${inList(words)}))"

  // Incremental-span-dedup replay at the <450 corpus split, shared by
  // q97 (one-shot index) and q106 (index folded from <400 ⊕ 400-449):
  // the fold must be invisible to probe semantics, so both gates replay
  // as the same plain span join — corpus spans vs delta spans (>= 450),
  // hub cap = distinct corpus docs per MATCHED span <= 50, matched_id =
  // min eligible corpus id, exactly incrementalSpanDedup's accounting.
  private val SpanProbe450Sql: String =
    s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |spw AS (SELECT doc_id,
       |    array_to_string(t[i + 1 : i + 12], ' ') AS span
       |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 11)) AS i
       |        FROM tok WHERE len(t) >= 12)),
       |sps AS (SELECT doc_id, array_to_string(t, ' ') AS span
       |  FROM tok WHERE len(t) < 12),
       |sp AS (SELECT DISTINCT doc_id, span
       |  FROM (SELECT * FROM spw UNION ALL SELECT * FROM sps)),
       |cs AS (SELECT doc_id, span FROM sp WHERE doc_id < 450),
       |ds AS (SELECT doc_id, span FROM sp WHERE doc_id >= 450),
       |hit AS (SELECT d.doc_id AS did, d.span, c.doc_id AS cid
       |  FROM ds d JOIN cs c ON d.span = c.span),
       |el AS (SELECT span FROM hit GROUP BY span
       |  HAVING count(DISTINCT cid) <= 50),
       |per AS (SELECT h.did AS doc_id,
       |    CAST(count(DISTINCT h.span) AS BIGINT) AS n_dup_spans,
       |    min(h.cid) AS matched_id
       |  FROM hit h JOIN el USING (span) GROUP BY h.did)
       |SELECT d.doc_id, coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       |  p.n_dup_spans IS NOT NULL AS has_dup_span,
       |  coalesce(p.matched_id, -1) AS matched_id
       |FROM (SELECT doc_id FROM documents WHERE doc_id >= 450) d
       |LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** The q198/q213/q214/q215 shared unit table: per-user pre/post
    * spend on the money grid, arm = user parity.
    */
  private def cupedUnits(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val mm = ev.agg(min(unix_micros(col("ts"))).as("__lo"),
      max(unix_micros(col("ts"))).as("__hi"))
    ev.crossJoin(broadcast(mm))
      .withColumn("__pre",
        unix_micros(col("ts")) < expr("(__lo + __hi) div 2"))
      .groupBy(col("user_id"))
      .agg(round(sum(when(col("__pre"), col("value"))
          .otherwise(lit(0.0))), 2).as("x"),
        round(sum(when(!col("__pre"), col("value"))
          .otherwise(lit(0.0))), 2).as("y"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
  }

  /** Unrolled power-iteration replay for q202 (the q152 PageRank
    * device): transition matrix from keyed lead pairs, π0 uniform on
    * the 1e-6 grid, each round a MATERIALIZED join+sum re-rounded at
    * 1e-6 — the grid-pinned trajectory [[graft.operators.Markov]]
    * computes.
    */
  /** Mirrors [[graft.operators.Markov.stationaryDistribution]]'s
    * driver fold: each round's sum is the LEFT FOLD of π·p in
    * ascending from_state order seeded at 0.0, snapped to the 1e-6
    * grid — the identical IEEE program on both engines (an unordered
    * `round(sum(...))` is accumulation-tree-dependent; the ordered
    * fold is not).
    */
  private def markovStationaryOracle(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      val prev = s"p${k - 1}"
      s"p$k AS MATERIALIZED (SELECT tm.to_state AS state, " +
        Grid.snapSql("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"list($prev.pi * tm.p ORDER BY tm.from_state)), " +
          "(a, x) -> a + x)") +
        s" AS pi " +
        s"FROM $prev JOIN tm ON tm.from_state = $prev.state GROUP BY 1)"
    }
    s"""WITH seq AS (SELECT user_id, event_type, ts, event_id,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS nxt FROM events),
       |tp AS (SELECT event_type AS from_state, nxt AS to_state,
       |    count(*) AS n FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT from_state, sum(n) AS t FROM tp GROUP BY 1),
       |tm AS (SELECT tp.from_state, tp.to_state,
       |    CAST(tp.n AS DOUBLE) / tot.t AS p
       |  FROM tp JOIN tot USING (from_state)),
       |st AS (SELECT DISTINCT from_state AS state FROM tp),
       |ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM st),
       |p0 AS MATERIALIZED (SELECT state,
       |    ${Grid.snapSql("CAST(1.0 AS DOUBLE) / ns.k")} AS pi
       |  FROM st, ns),
       |${rounds.mkString(",\n")}
       |SELECT state, pi FROM p$iters ORDER BY state""".stripMargin
  }

  /** The q198/q213/q214/q215 shared unit-table fragment — mirrors
    * [[cupedUnits]]: per-user pre/post spend on the money grid, arm =
    * user parity. Ends in `u(user_id, x, y, arm)`.
    */
  private val CupedUnitsSql: String =
    """WITH mm AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts))
      |    AS hi FROM events),
      |u AS (SELECT user_id,
      |    round(sum(CASE WHEN epoch_us(ts) < (lo + hi) // 2
      |      THEN value ELSE 0.0 END), 2) AS x,
      |    round(sum(CASE WHEN epoch_us(ts) < (lo + hi) // 2
      |      THEN 0.0 ELSE value END), 2) AS y,
      |    user_id % 2 AS arm
      |  FROM events, mm GROUP BY user_id)""".stripMargin

  /** Unrolled PCA replay for q208: the d²-bounded covariance table
    * (cells pinned at 1e-8) then `iters` MATERIALIZED matvec+normalize
    * rounds on the 1e-6 grid, sign fixed by the largest-|loading|
    * convention — [[graft.operators.Pca]]'s exact trajectory.
    */
  /** One grid-pinned power-iteration chain over covariance table
    * `covT`, CTE names prefixed with `pfx`: `${pfx}p0..pK`,
    * `${pfx}n1..nK`, sign pick `${pfx}sg`, final `${pfx}ld(i,
    * loading)`.
    */
  private def powerCtes(pfx: String, covT: String, dim: Int,
      iters: Int): String = {
    val rounds = (1 to iters).flatMap { k =>
      val prev = s"${pfx}p${k - 1}"
      Seq(
        s"${pfx}w$k AS MATERIALIZED (SELECT c.i AS vi, " +
          s"round(sum(c.cov * p.x), 6) AS wx " +
          s"FROM $covT c JOIN $prev p ON p.vi = c.j GROUP BY 1)",
        s"${pfx}n$k AS (SELECT round(sqrt(sum(wx * wx)), 6) AS nrm " +
          s"FROM ${pfx}w$k)",
        s"${pfx}p$k AS MATERIALIZED (SELECT vi, " +
          s"round(wx / (SELECT nrm FROM ${pfx}n$k), 6) AS x " +
          s"FROM ${pfx}w$k)")
    }
    (Seq(
      s"${pfx}p0 AS (SELECT i AS vi, round(CAST(1.0 AS DOUBLE) / " +
        s"sqrt(CAST($dim AS DOUBLE)), 6) AS x FROM idx)") ++ rounds ++
      Seq(
        s"${pfx}sg AS (SELECT CASE WHEN x < 0 THEN CAST(-1.0 AS DOUBLE) " +
          s"ELSE CAST(1.0 AS DOUBLE) END AS sgn " +
          s"FROM ${pfx}p$iters ORDER BY abs(x) DESC, vi LIMIT 1)",
        s"${pfx}ld AS (SELECT vi AS i, round(x * sgn, 6) AS loading " +
          s"FROM ${pfx}p$iters, ${pfx}sg)")).mkString(",\n")
  }

  private def pcaWith(dim: Int, iters: Int): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
       |idx AS (SELECT unnest(range(1, ${dim + 1})) AS i),
       |sx AS (SELECT i, sum(v[i]) AS sx FROM e, idx GROUP BY i),
       |cells AS (SELECT a.i AS i, b.i AS j, sum(e.v[a.i] * e.v[b.i])
       |    AS sxy FROM e, idx a, idx b GROUP BY 1, 2),
       |cov AS (SELECT c.i, c.j, round(c.sxy / (SELECT n FROM nn) -
       |    (sa.sx / (SELECT n FROM nn)) * (sb.sx / (SELECT n FROM nn)),
       |    8) AS cov
       |  FROM cells c JOIN sx sa ON sa.i = c.i
       |  JOIN sx sb ON sb.i = c.j),
       |${powerCtes("", "cov", dim, iters)}""".stripMargin

  private def pcaOracle(dim: Int, iters: Int): String =
    pcaWith(dim, iters) +
      "\nSELECT CAST(i AS INTEGER) AS i, loading, " +
      s"(SELECT nrm FROM n$iters) AS eigenvalue" +
      "\nFROM ld ORDER BY i"

  /** Unrolled HITS replay for q169: per round, the raw authority sum,
    * its L2 norm, the normalized table (MATERIALIZED — the q152 lazy-
    * CTE lesson), then the same for hubs; top-15 per side on the
    * rounded grid with an id tie-break.
    */
  private def hitsOracle(iters: Int): String = {
    val rounds = (1 to iters).flatMap { k =>
      val hPrev = if (k == 1) "h0" else s"h${k - 1}"
      Seq(
        s"ar$k AS (SELECT d, sum(h) AS a FROM ed JOIN $hPrev USING (s) " +
          "GROUP BY d)",
        s"an$k AS (SELECT sqrt(sum(a * a)) AS n FROM ar$k)",
        s"a$k AS MATERIALIZED (SELECT d, a / n AS a FROM ar$k, an$k)",
        s"hr$k AS (SELECT s, sum(a) AS h FROM ed JOIN a$k USING (d) " +
          "GROUP BY s)",
        s"hn$k AS (SELECT sqrt(sum(h * h)) AS n FROM hr$k)",
        s"h$k AS MATERIALIZED (SELECT s, h / n AS h FROM hr$k, hn$k)")
    }
    s"""WITH ed AS (SELECT DISTINCT o.o_custkey AS s, l.l_partkey AS d
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |h0 AS (SELECT DISTINCT s, 1.0 AS h FROM ed),
       |${rounds.mkString(",\n")},
       |allx AS (
       |  SELECT 'hub' AS side, s AS id, h AS score FROM h$iters
       |  UNION ALL
       |  SELECT 'authority', d, a FROM a$iters),
       |rk AS (SELECT side, id, score, CAST(row_number() OVER
       |  (PARTITION BY side ORDER BY round(score, 6) DESC, id)
       |  AS INTEGER) AS rn
       |  FROM allx)
       |SELECT side, rn, id, round(score, 6) AS score FROM rk
       |WHERE rn <= 15 ORDER BY side, rn""".stripMargin
  }

  /** Unrolled MMR replay for q171: round 1 picks max λ·rel; each later
    * round computes max-sim-to-selected per surviving candidate (plain
    * aggregate — unrolled, so no recursion restrictions), then argmax
    * of the rounded objective with the id tie-break. `1 − λ` is
    * interpolated from the same Scala double the operator subtracts
    * with, and λ is CAST to DOUBLE (a bare literal is DECIMAL — the
    * pageRank lesson).
    */
  private def mmrOracle(k: Int, lambda: Double, capId: Long): String = {
    val l = s"CAST($lambda AS DOUBLE)"
    val oml = s"CAST(${1 - lambda} AS DOUBLE)"
    val rounds = (2 to k).flatMap { r =>
      val prev = s"sel${r - 1}"
      Seq(
        s"m$r AS (SELECT c.vec_id, " +
          "max(list_cosine_similarity(c.v, s.v)) AS ms " +
          s"FROM cand c, $prev s WHERE c.vec_id NOT IN " +
          s"(SELECT vec_id FROM $prev) GROUP BY c.vec_id)",
        s"s$r AS MATERIALIZED (SELECT c.vec_id, c.v, c.rel, " +
          s"${Grid.snapSql(s"$l * c.rel - $oml * m.ms")} AS obj, " +
          s"$r AS rank FROM m$r m JOIN cand c USING (vec_id) " +
          "ORDER BY obj DESC, c.vec_id LIMIT 1)",
        s"sel$r AS (SELECT vec_id, v FROM $prev " +
          s"UNION ALL SELECT vec_id, v FROM s$r)")
    }
    val unionAll = (1 to k).map(r => s"SELECT rank, vec_id, rel, obj FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) AS rel
       |  FROM embeddings, q WHERE vec_id <> 0 AND vec_id < $capId),
       |s1 AS MATERIALIZED (SELECT vec_id, v, rel,
       |  ${Grid.snapSql(s"$l * rel - $oml * 0.0")} AS obj, 1 AS rank
       |  FROM cand
       |  ORDER BY ${Grid.snapSql(s"$l * rel - $oml * 0.0")} DESC,
       |    vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id, v FROM s1),
       |${rounds.mkString(",\n")}
       |SELECT rank, vec_id, ${Grid.snapSql("rel", 4)} AS relevance,
       |  obj AS mmr_score
       |FROM ($unionAll) ORDER BY rank""".stripMargin
  }

  /** The unrolled damped-PR rounds over CTEs named ed/nd/nn/dg/r0 —
    * shared by the doc-graph (q152) and word-graph (q243) oracles;
    * same formula and parenthesization as [[operators.Graph.pageRank]].
    */
  private def prRounds(iters: Int): Seq[String] = {
    val d = "CAST(0.85 AS DOUBLE)"
    (1 to iters).flatMap { k =>
      val prev = s"r${k - 1}"
      Seq(
        s"c$k AS (SELECT e.d AS id, sum(r.pr / dg2.deg) AS c FROM ed e " +
          s"JOIN $prev r ON r.id = e.s JOIN dg dg2 ON dg2.id = e.s " +
          "GROUP BY e.d)",
        s"k$k AS (SELECT coalesce(sum(r.pr), 0) AS dang FROM $prev r " +
          "JOIN dg ON dg.id = r.id AND dg.deg = 0)",
        s"r$k AS MATERIALIZED (SELECT nd.id, (1 - $d) / nn.n + $d * " +
          s"(coalesce(c.c, 0) + k$k.dang / nn.n) AS pr " +
          s"FROM nd LEFT JOIN c$k c ON c.id = nd.id, nn, k$k)")
    }
  }

  /** TextRank replay: the word co-occurrence graph (adjacent corpus
    * positions, both endpoints in the count-bounded vocabulary) pushed
    * through the same unrolled PR rounds as q152.
    */
  private def textrankOracle(iters: Int, minCount: Int): String =
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |tp AS (SELECT doc_id, t, unnest(range(0, len(t))) AS i FROM tk),
       |tw AS (SELECT doc_id, i, t[i + 1] AS w FROM tp),
       |vc AS (SELECT w, count(*) AS cnt FROM tw GROUP BY w
       |  HAVING count(*) >= $minCount),
       |tv AS (SELECT doc_id, i, w FROM tw JOIN vc USING (w)),
       |e0 AS (SELECT DISTINCT least(a.w, b.w) AS s,
       |  greatest(a.w, b.w) AS d
       |  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |    AND a.w <> b.w),
       |ed AS MATERIALIZED (SELECT s, d FROM e0
       |  UNION ALL SELECT d, s FROM e0),
       |nd AS MATERIALIZED (SELECT w AS id FROM vc),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
       |dg AS MATERIALIZED (SELECT id, coalesce(dd.deg, 0) AS deg FROM nd
       |  LEFT JOIN (SELECT s AS id, count(*) AS deg FROM ed GROUP BY s)
       |  dd USING (id)),
       |r0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS pr FROM nd, nn),
       |${prRounds(iters).mkString(",\n")}
       |SELECT r.id AS word, CAST(dg.deg AS BIGINT) AS deg,
       |  round(r.pr * nn.n, 4) AS pr_norm
       |FROM r$iters r JOIN dg ON dg.id = r.id, nn
       |ORDER BY pr_norm DESC, word LIMIT 20""".stripMargin

  // Unrolled PageRank replay for q152: DuckDB recursive CTEs reject
  // aggregates in the recursive term, so the fixed 10 rounds are
  // generated as explicit MATERIALIZED CTEs r1..r10 (lazy CTEs
  // re-expand per reference — exponential, "too many open files") —
  // same formula, same
  // parenthesization, damping forced through CAST(.. AS DOUBLE) so the
  // literal is the IEEE double the JVM computes with (a bare 0.85 is
  // DECIMAL in DuckDB and (1 - 0.85) would be exactly 0.15).
  private def pageRankOracle(iters: Int): String = {
    val rounds = prRounds(iters)
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |gr AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id,
       |  unnest(CASE WHEN len(t) >= 3
       |    THEN list_transform(range(0, len(t) - 2),
       |      i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
       |    ELSE [array_to_string(t, ' ')] END) AS gram FROM tk)),
       |dfq AS (SELECT gram, count(*) AS df FROM gr GROUP BY gram),
       |rare AS (SELECT doc_id, gram FROM gr JOIN dfq USING (gram)
       |  WHERE df <= 6),
       |e0 AS (SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
       |  FROM rare a JOIN rare b USING (gram) WHERE a.doc_id < b.doc_id),
       |ed AS MATERIALIZED (SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0),
       |nd AS MATERIALIZED (SELECT doc_id AS id FROM documents),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
       |dg AS MATERIALIZED (SELECT id, coalesce(dd.deg, 0) AS deg FROM nd
       |  LEFT JOIN (SELECT s AS id, count(*) AS deg FROM ed GROUP BY s)
       |  dd USING (id)),
       |r0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS pr FROM nd, nn),
       |${rounds.mkString(",\n")}
       |SELECT r.id AS doc_id, CAST(dg.deg AS BIGINT) AS deg,
       |  round(r.pr * nn.n, 4) AS pr_norm
       |FROM r$iters r JOIN dg ON dg.id = r.id, nn
       |ORDER BY pr_norm DESC, doc_id LIMIT 25""".stripMargin
  }

  /** One registry entry: a query's Spark build over an sf dir, and the
    * DuckDB oracle SQL that must return the same rows — same column
    * names, same ordering, same rounding.
    */
  private final case class Query(
      build: (SparkSession, String) => DataFrame, oracleSql: String)

  /** Every query by name, each entry its build and then its oracle.
    * Kept after every helper it reads: object vals initialize in textual
    * order, and an oracle built from a later `val` would read `null`.
    */
  private val registry: Map[String, Query] = Map(

    // ---- relational core --------------------------------------------

    "q01_pricing_summary" -> Query((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("sum_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q02_filter_pushdown" -> Query((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("2000-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
          .as("revenue"), count(lit(1)).as("n_rows"))
    },
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |  AND l_shipdate < TIMESTAMP '2000-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    "q03_join_agg" -> Query((s, dir) => {
      T(s, dir, "customer").join(T(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"))
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"), countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q04_topk" -> Query((s, dir) => {
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    "q05_window_rank" -> Query((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin),

    "q06_region_revenue" -> Query((s, dir) => {
      T(s, dir, "lineitem")
        .join(broadcast(T(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(T(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    },
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q07_explode_wordcount" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(explode(toks(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    },
      s"""SELECT word, count(*) AS cnt FROM (
         |  SELECT unnest($ToksSql) AS word FROM documents)
         |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 20""".stripMargin),

    // U2-style broadcast dispatch join over a tiny action table.
    "q08_dispatch_join" -> Query((s, dir) => {
      val actions = s.createDataFrame(Seq(
        ("view", "count"), ("click", "count"), ("error", "alert"),
        ("purchase", "revenue"), ("signup", "onboard")))
        .toDF("event_type", "action")
      events(s, dir)
        .join(broadcast(actions), Seq("event_type"), "left")
        .na.fill("ignore", Seq("action"))
        .groupBy(col("action"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("action"))
    },
      """SELECT action, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM (SELECT value, CASE event_type
        |  WHEN 'view' THEN 'count' WHEN 'click' THEN 'count'
        |  WHEN 'error' THEN 'alert' WHEN 'purchase' THEN 'revenue'
        |  WHEN 'signup' THEN 'onboard' ELSE 'ignore' END AS action
        | FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // U3-style per-group short-circuit: an 'error' event supersedes the
    // rest of the group's activity.
    "q09_priority_shortcircuit" -> Query((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      events(s, dir)
        .withColumn("has_err",
          max(when(col("event_type") === "error", 1).otherwise(0)).over(w))
        .filter(col("has_err") === 0 || col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id, count(*) AS n_kept FROM (
        |  SELECT user_id, event_type,
        |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id) AS has_err
        |  FROM events)
        |WHERE has_err = 0 OR event_type = 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q10_json_extract" -> Query((s, dir) => {
      events(s, dir)
        .withColumn("k",
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) % 10
        |   AS bucket, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- ingest-engine primitives (C7/C8/C9, O4) --------------------

    "q11_md5_cdn_key" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("source"), lit("/"), md5(col("text")), lit(".pdf"))
            .as("cdn_object"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source || '/' || md5(text) || '.pdf' AS cdn_object
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q12_slugify" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          Slugify.slug(substring(col("text"), 1, 40)).as("slug"))
        .orderBy(col("doc_id"))
    },
      // strip_accents ≈ the engine's NFKD ASCII fold for accented latin
      // (special ligatures like ß differ, none occur in the corpus)
      """SELECT doc_id,
        | trim(regexp_replace(lower(strip_accents(substr(text, 1, 40))), '[^a-z0-9]+', '-', 'g'), '-') AS slug
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q13_upload_filename" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          FileNames.uploadFileName(md5(col("text")),
            Slugify.slug(substring(col("text"), 1, 300)),
            lit(".pdf"), concat(lit("docs/"), col("lang"))).as("upload_key"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        | 'docs/' || lang || '/' ||
        |  left(trim(regexp_replace(lower(strip_accents(substr(text, 1, 300))), '[^a-z0-9]+', '-', 'g'), '-'), 200)
        |  || '_' || md5(text) || '.pdf' AS upload_key
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q14_report_union" -> Query((s, dir) => {
      val newDocs = T(s, dir, "documents")
        .select(lit("new").as("ingest_type"))
      val updated = events(s, dir).filter(col("event_id") < 2000)
        .select(lit("updated").as("ingest_type"))
      newDocs.unionByName(updated)
        .groupBy(col("ingest_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("ingest_type"))
    },
      """SELECT ingest_type, count(*) AS n FROM (
        |  SELECT 'new' AS ingest_type FROM documents
        |  UNION ALL
        |  SELECT 'updated' AS ingest_type FROM events WHERE event_id < 2000)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- dedup suite ------------------------------------------------

    "q15_dedup_exact" -> Query((s, dir) =>
      Dedup.exactDedup(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("content_key")),
      """SELECT md5(lower(text)) AS content_key, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    "q16_dedup_fingerprint" -> Query((s, dir) =>
      Dedup.fingerprintDedup(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fp")),
      s"""SELECT md5(array_to_string(list_sort(list_distinct($ToksSql)), ' '))
         |  AS fp, min(doc_id) AS keep_id, count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    "q17_minhash_signatures" -> Query((s, dir) =>
      Dedup.minhashSignatures(T(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("sig").getItem(0).as("minhash0"),
          col("sig").getItem(15).as("minhash15"))
        .orderBy(col("doc_id")),
      HashOracles.q17MinhashSignatures),

    "q18_minhash_candidates" -> Query((s, dir) =>
      Dedup.minhashCandidatePairs(T(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("n_candidate_pairs")),
      HashOracles.q18MinhashCandidates),

    "q19_simhash" -> Query((s, dir) =>
      Dedup.simhashes(T(s, dir, "documents"), "doc_id", "text")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("simhash")).as("n_distinct_sigs")),
      HashOracles.q19Simhash),

    "q20_ngram_jaccard" -> Query((s, dir) => {
      val t = T(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), array_distinct(toks(col("text"))).as("toks"))
      t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          DedupFunctions.jaccard(col("a.toks"), col("b.toks")).as("jac"))
        .filter(col("jac") >= 0.2)
        .withColumn("jac", round(col("jac"), 4))
        .orderBy(col("a_id"), col("b_id"))
    },
      s"""WITH t AS (SELECT doc_id, list_distinct($ToksSql) AS toks
         |  FROM documents WHERE doc_id < 50)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jac
         |FROM t a, t b
         |WHERE a.doc_id < b.doc_id
         |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.2
         |ORDER BY 1, 2""".stripMargin),

    "q21_embedding_dup_pairs" -> Query((s, dir) =>
      Dedup.embeddingNearDupPairs(
        T(s, dir, "embeddings").filter(col("vec_id") < 2000),
        "vec_id", "embedding", threshold = 0.4)
        .agg(count(lit(1)).as("n_pairs")),
      """SELECT count(*) AS n_pairs
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id AND a.vec_id < 2000 AND b.vec_id < 2000
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) > 0.4""".stripMargin),

    // Transitive dup clusters over the (oracle-expressible) q20 Jaccard
    // pairs: connected components, component = min reachable id.
    "q43_dup_clusters" -> Query((s, dir) => {
      val t = T(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), array_distinct(toks(col("text"))).as("toks"))
      val pairs = t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          DedupFunctions.jaccard(col("a.toks"), col("b.toks")).as("jac"))
        .filter(col("jac") >= 0.9)
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .orderBy(col("id"))
    },
      s"""WITH t AS (SELECT doc_id, list_distinct($ToksSql) AS toks
         |  FROM documents WHERE doc_id < 200),
         |edges0 AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM t a, t b WHERE a.doc_id < b.doc_id
         |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
         |edges AS (SELECT a_id AS s, b_id AS d FROM edges0
         |  UNION SELECT b_id, a_id FROM edges0),
         |nodes AS (SELECT DISTINCT s AS node FROM edges),
         |reach AS (
         |  WITH RECURSIVE r(node, lbl) AS (
         |    SELECT node, node FROM nodes
         |    UNION
         |    SELECT e.d, r.lbl FROM r JOIN edges e ON e.s = r.node
         |  ) SELECT * FROM r)
         |SELECT node AS id, min(lbl) AS component FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- similarity search ------------------------------------------

    "q22_ann_topk" -> Query((s, dir) =>
      Similarity.neighborsOf(T(s, dir, "embeddings"), "vec_id", "embedding",
          queryId = 0L, k = 10)
        .select(col("vec_id"), round(col("cos"), 4).as("cos_sim")),
      """SELECT b.vec_id,
        | round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |   CAST(a.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id = 0 AND b.vec_id <> 0
        |ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |   CAST(a.embedding AS DOUBLE[])) DESC, b.vec_id
        |LIMIT 10""".stripMargin),

    "q23_ann_lsh_buckets" -> Query((s, dir) =>
      Similarity.lshBucketStats(T(s, dir, "embeddings"), "embedding")
        .agg(count(lit(1)).as("n_buckets"), max(col("n_vectors")).as("max_bucket")),
      HashOracles.q23LshBuckets),

    // SimHash near-dup pairs (bit-bucket join + Hamming verify);
    // oracle: exact FNV-1a replay in DuckDB (HashOracles.q52SimhashPairs)
    "q52_simhash_pairs" -> Query((s, dir) =>
      Dedup.simhashNearDupPairs(
        T(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", maxHamming = 16)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(min(col("hamming")), lit(-1)).as("min_hamming")),
      HashOracles.q52SimhashPairs),

    // LSH-bucketed ANN for one query vector (equi-join on signature);
    // oracle: exact splitmix64 plane replay (HashOracles.q53LshTopK)
    "q53_lsh_topk" -> Query((s, dir) => {
      val vectors = T(s, dir, "embeddings")
      val q = vectors.filter(col("vec_id") === 0L)
        .select(col("embedding").as("q_emb"))
      Similarity.lshTopK(vectors, "vec_id", "embedding", q, k = 10)
        .agg(count(lit(1)).as("n_results"),
          round(max(col("cos")), 4).as("best_cos"))
    },
      HashOracles.q53LshTopK),

    // Block-rotation SimHash (4 tables x 16 bits, maxHamming 3 < tables):
    // pigeonhole-EXACT, so the oracle is plain all-pairs SQL — equality
    // proves the banded equi-join loses nothing
    "q54_simhash_blocked" -> Query((s, dir) =>
      Dedup.simhashNearDupPairs(
        T(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", maxHamming = 3, nTables = 4)
        .orderBy(col("a_id"), col("b_id")),
      HashOracles.q54SimhashBlocked),

    // Multi-probe LSH: 8 probe buckets ranked by flipped-plane proximity;
    // oracle replays the probe selection (HashOracles.q55LshMultiprobe)
    "q55_lsh_multiprobe" -> Query((s, dir) => {
      val vectors = T(s, dir, "embeddings")
      val q = vectors.filter(col("vec_id") === 0L)
        .select(col("embedding").as("q_emb"))
      Similarity.lshTopK(vectors, "vec_id", "embedding", q, k = 10,
          nProbes = 8)
        .agg(count(lit(1)).as("n_results"),
          round(max(col("cos")), 4).as("best_cos"))
    },
      HashOracles.q55LshMultiprobe),

    // Benchmark decontamination: corpus docs sharing any 5-gram with the
    // "benchmark" slice are flagged (broadcast semi-join on n-grams)
    "q56_decontaminate" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = docs.filter(col("doc_id") < 10)
      val corpus = docs.filter(col("doc_id") >= 10)
      Contamination.flagContaminated(corpus, "doc_id", "text",
          bench, "text", n = 5)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_contaminated"), 1).otherwise(0))
            .as("n_contaminated"))
    },
      // n-gram CASE mirrors TF.shingles/ngrams: >= n tokens -> sliding
      // window of n, else the single whole-token-list gram; the empty
      // whole-doc-fallback gram of an empty token list is dropped on both
      // sides (Contamination.gramsOf)
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |g AS (SELECT doc_id, gram FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
         |    THEN list_transform(range(0, len(t) - 4),
         |      i -> array_to_string(t[i + 1 : i + 5], ' '))
         |    ELSE [array_to_string(t, ' ')] END) AS gram FROM tk)
         |  WHERE gram <> ''),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
         |corpus AS (SELECT doc_id FROM documents WHERE doc_id >= 10),
         |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
         |  WHERE g.doc_id >= 10)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated
         |FROM corpus LEFT JOIN bad USING (doc_id)""".stripMargin),

    // Repetition quality signal: duplicated-n-gram fraction per doc
    "q57_repetition" -> Query((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          round(TF.dupNgramFraction(col("text"), 2), 4).as("dup2"),
          round(TF.dupNgramFraction(col("text"), 3), 4).as("dup3"))
        .orderBy(col("doc_id")),
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |g AS (SELECT doc_id,
         |  CASE WHEN len(t) >= 2 THEN list_transform(range(0, len(t) - 1),
         |    i -> array_to_string(t[i + 1 : i + 2], ' '))
         |    ELSE [array_to_string(t, ' ')] END AS g2,
         |  CASE WHEN len(t) >= 3 THEN list_transform(range(0, len(t) - 2),
         |    i -> array_to_string(t[i + 1 : i + 3], ' '))
         |    ELSE [array_to_string(t, ' ')] END AS g3
         |  FROM tk)
         |SELECT doc_id,
         |  round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2), 4)
         |    AS dup2,
         |  round(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3), 4)
         |    AS dup3
         |FROM g ORDER BY doc_id""".stripMargin),

    // PII scrubbing: the corpus carries no PII, so the query PLANTS a
    // synthetic email + account number per doc and verifies the masking
    // strips exactly them (counts + masked length checked by the oracle)
    "q63_pii_masking" -> Query((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          TF.maskPii(concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com"),
            lit(" acct 90210"), col("doc_id"), lit("77001")))
            .as("masked"))
        .select(col("doc_id"), length(col("masked")).as("masked_len"),
          (length(col("masked")) -
            length(regexp_replace(col("masked"), "\\[EMAIL\\]", "")))
            .divide(7).cast("long").as("n_emails"),
          (length(col("masked")) -
            length(regexp_replace(col("masked"), "\\[NUM\\]", "")))
            .divide(5).cast("long").as("n_nums"))
        .orderBy(col("doc_id")),
      """WITH m AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id || '@example.com'
        |      || ' acct 90210' || doc_id || '77001',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{9,}', '[NUM]', 'g') AS masked
        |  FROM documents)
        |SELECT doc_id, CAST(length(masked) AS INTEGER) AS masked_len,
        |  CAST((length(masked) - length(replace(masked, '[EMAIL]', ''))) / 7
        |    AS BIGINT) AS n_emails,
        |  CAST((length(masked) - length(replace(masked, '[NUM]', ''))) / 5
        |    AS BIGINT) AS n_nums
        |FROM m ORDER BY doc_id""".stripMargin),

    // Order-sensitive rolling-hash fingerprint (wrapping base-31 over
    // FNV-1a token hashes; oracle replays it in HUGEINT mod 2^64)
    "q58_rolling_hash" -> Query((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TF.rollingHash(col("text")).as("rhash"))
        .orderBy(col("doc_id")),
      HashOracles.q58RollingHash),

    // Deterministic stratified sampling (data mixing): en 50%, de 25%,
    // rest 10%, keyed on splitmix64(doc_id) — stable across runs/engines
    "q59_stratified_sample" -> Query((s, dir) =>
      Sampling.stratifiedSample(T(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang")),
      HashOracles.q59StratifiedSample),

    // Quality-filter audit: per-drop-reason volume accounting (first
    // failing rule names the reason; null = kept)
    "q60_quality_audit" -> Query((s, dir) =>
      QualityFilters.audit(T(s, dir, "documents"), "text",
          QualityFilters.Thresholds(minTokens = 30, maxTokens = 10000,
            maxDupNgramFraction = 0.05))
        .orderBy(col("drop_reason").asc_nulls_first),
      // first-failing-rule CASE chain mirrors QualityFilters.standardRules
      s"""WITH tk AS (SELECT doc_id, text, $ToksSql AS t FROM documents),
         |g AS (SELECT doc_id, text, len(t) AS n,
         |  CASE WHEN len(t) >= 3 THEN list_transform(range(0, len(t) - 2),
         |    i -> array_to_string(t[i + 1 : i + 3], ' '))
         |    ELSE [array_to_string(t, ' ')] END AS g3 FROM tk),
         |r AS (SELECT CASE
         |  WHEN text IS NULL THEN 'null_text'
         |  WHEN n < 30 THEN 'min_tokens'
         |  WHEN n > 10000 THEN 'max_tokens'
         |  WHEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
         |    > 0.05 THEN 'repetition'
         |  WHEN CAST(length(text) - length(regexp_replace(text,
         |      '[.,;:!?''"()-]', '', 'g')) AS DOUBLE) > n * 0.5
         |    THEN 'punct_ratio'
         |  ELSE NULL END AS drop_reason FROM g)
         |SELECT drop_reason, count(*) AS n FROM r
         |GROUP BY drop_reason ORDER BY drop_reason NULLS FIRST""".stripMargin),

    // Corpus vocabulary: global top-20 tokens (partial agg + top-k heap)
    "q61_vocab_topk" -> Query((s, dir) =>
      T(s, dir, "documents")
        .select(explode(toks(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20),
      s"""SELECT token, count(*) AS n
         |FROM (SELECT unnest($ToksSql) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),

    // Temperature-flattened source mixing (XLM-R/mT5 recipe, T = 0.5
    // over languages): rates = sqrt(c_min/c_s), realized by the same
    // deterministic splitmix64 bucket — the stratum counts are the one
    // driver-side fact (5 rows), the per-row decision stays codegen'd
    "q66_temperature_mix" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val counts = docs.groupBy(col("lang")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Sampling.temperatureSample(docs, "doc_id", "lang", counts,
          temperature = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))
    },
      HashOracles.q66TemperatureSample),

    // Deterministic per-epoch training order: a reproducible permutation
    // per epoch with no RNG state; the bounded prefix plans as a top-k
    // heap (TakeOrderedAndProject), not a global sort
    "q67_epoch_order" -> Query((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          Sampling.epochKey(col("doc_id"), epoch = 3).as("epoch_key"))
        .orderBy(col("epoch_key"), col("doc_id"))
        .limit(10),
      HashOracles.q67EpochOrder(3)),

    // Corpus-frequent n-gram (boilerplate) accounting: gram df is one
    // partial-agg shuffle; the frequent set joins back as a PLAIN
    // equi-join (no hint — AQE broadcasts when the runtime size fits,
    // degrades to a shuffle when it doesn't; PlanQualitySpec asserts
    // the query carries zero forced hints); per-doc counts are one
    // aggregation on the doc id
    "q68_boilerplate" -> Query((s, dir) =>
      graft.operators.Boilerplate.flagBoilerplate(
          T(s, dir, "documents"), "doc_id", "text",
          n = 5, minDf = 3, maxFraction = 0.5)
        .select(col("doc_id"), col("n_grams"), col("n_frequent"),
          col("is_boilerplate"))
        .orderBy(col("doc_id")),
      // distinct-gram document frequencies -> broadcastable frequent set ->
      // per-doc boilerplate accounting (mirrors Boilerplate.flagBoilerplate)
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(
         |  CASE WHEN len(t) >= 5 THEN list_transform(range(0, len(t) - 4),
         |    i -> array_to_string(t[i + 1 : i + 5], ' '))
         |  ELSE [array_to_string(t, ' ')] END)) AS gram FROM tk),
         |dfq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
         |freq AS (SELECT gram FROM dfq WHERE df >= 3),
         |per AS (SELECT g.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_frequent
         |  FROM g LEFT JOIN freq f USING (gram) GROUP BY g.doc_id)
         |SELECT doc_id, n_grams, n_frequent,
         |  CAST(n_frequent AS DOUBLE) > CAST(n_grams AS DOUBLE) * 0.5
         |    AS is_boilerplate
         |FROM per ORDER BY doc_id""".stripMargin),

    // Per-document TF-IDF keywords (top-3, ranked on the rounded grid so
    // libm ln differences can't reorder ties across engines)
    "q69_tfidf_terms" -> Query((s, dir) =>
      graft.operators.Keywords.tfIdfTopTerms(
          T(s, dir, "documents").filter(col("doc_id") < 20),
          "doc_id", "text", k = 3)
        .withColumnRenamed("rank", "term_rank")
        .orderBy(col("doc_id"), col("term_rank")),
      // tf * ln(N/df) rounded to 4 decimals BEFORE ranking, ties by token —
      // the rounded grid is what makes rank order engine-independent
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
         |tk AS (SELECT doc_id, unnest($ToksSql) AS token FROM d),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT count(*) AS nd FROM d),
         |sc AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
         |  round(tf.tf * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)), 4)
         |    AS tfidf
         |  FROM tf JOIN dfq USING (token), n),
         |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |  ORDER BY tfidf DESC, token) AS INTEGER) AS term_rank FROM sc)
         |SELECT doc_id, token, tf, df, tfidf, term_rank FROM rk
         |WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin),

    // Vocabulary coverage audit: per-doc OOV counts against the global
    // top-20 vocabulary (integer grid — no float division in the gate)
    "q70_oov_rate" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val vocab = docs.select(explode(toks(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
        .select(col("token"))
      graft.operators.Keywords.oovAgainstVocab(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("oov_per_1000"))
        .orderBy(col("doc_id"))
    },
      // per-doc OOV counts vs the global top-20 vocabulary (same
      // deterministic top-k as q61); integer-grid per-1000 rate
      s"""WITH tk AS (SELECT doc_id, unnest($ToksSql) AS token
         |  FROM documents),
         |voc AS (SELECT token FROM (SELECT token, count(*) AS n FROM tk
         |  GROUP BY token ORDER BY n DESC, token LIMIT 20)),
         |per AS (SELECT tk.doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_oov
         |  FROM tk LEFT JOIN voc v USING (token) GROUP BY tk.doc_id)
         |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
         |  coalesce(n_oov, 0) AS n_oov,
         |  coalesce(CAST(floor((n_oov * 1000) / CAST(n_tokens AS DOUBLE))
         |    AS BIGINT), 0) AS oov_per_1000
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Bloom-filter decontamination: the benchmark gram set compressed to
    // a 64 Kbit deterministic bitmap (bits/gram instead of bytes/gram);
    // the corpus side probes k bits per gram — no join at all. The
    // oracle rebuilds the same bitmap, so even false positives must match
    "q71_bloom_decontaminate" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val bloom = Contamination.benchmarkBloom(
        docs.filter(col("doc_id") < 10), "text", n = 5)
      Contamination.flagContaminatedBloom(
          docs.filter(col("doc_id") >= 10), "doc_id", "text", bloom, n = 5)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_contaminated"), 1).otherwise(0)).as("n_flagged"))
    },
      HashOracles.q71BloomDecontaminate),

    // Per-source corpus profile — the "which sources are worth keeping"
    // dashboard: volume, token mass, and quality-drop accounting per
    // source in ONE pass (tokens projected once, threaded into annotate
    // AND the token-mass sum — no second regexp pass)
    "q72_source_profile" -> Query((s, dir) =>
      QualityFilters.annotate(
          T(s, dir, "documents")
            .withColumn("__toks", toks(col("text"))),
          "text",
          QualityFilters.Thresholds(minTokens = 30, maxTokens = 10000,
            maxDupNgramFraction = 0.05),
          tokensCol = Some("__toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("__toks")).cast("long")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("drop_reason").isNull, 1).otherwise(0)).as("n_kept"))
        .orderBy(col("source")),
      // q60's first-failing CASE chain, aggregated per source in one pass
      s"""WITH tk AS (SELECT doc_id, text, source, lang, $ToksSql AS t
         |  FROM documents),
         |g AS (SELECT source, lang, text, len(t) AS n,
         |  CASE WHEN len(t) >= 3 THEN list_transform(range(0, len(t) - 2),
         |    i -> array_to_string(t[i + 1 : i + 3], ' '))
         |    ELSE [array_to_string(t, ' ')] END AS g3 FROM tk),
         |r AS (SELECT source, lang, n, CASE
         |  WHEN text IS NULL THEN 'null_text'
         |  WHEN n < 30 THEN 'min_tokens'
         |  WHEN n > 10000 THEN 'max_tokens'
         |  WHEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
         |    > 0.05 THEN 'repetition'
         |  WHEN CAST(length(text) - length(regexp_replace(text,
         |      '[.,;:!?''"()-]', '', 'g')) AS DOUBLE) > n * 0.5
         |    THEN 'punct_ratio'
         |  ELSE NULL END AS drop_reason FROM g)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS total_tokens,
         |  count(DISTINCT lang) AS n_langs,
         |  CAST(sum(CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept
         |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // Curriculum ordering: quality-score decile first, then the
    // deterministic epoch permutation WITHIN each band — reproducible
    // quality-first training order with no RNG state
    "q73_curriculum_order" -> Query((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          TF.qualityScore(col("text"), col("n_chars")).as("score"),
          Sampling.epochKey(col("doc_id"), epoch = 1).as("epoch_key"))
        .withColumn("bucket", (col("score") / lit(10)).cast("long"))
        .orderBy(col("bucket").desc, col("epoch_key"), col("doc_id"))
        .limit(15)
        .select(col("doc_id"), col("score"), col("bucket"),
          col("epoch_key")),
      HashOracles.q73CurriculumOrder(
      s"""2 * ${hitsSql(TF.EnStop)}
         | + CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 5 ELSE 0 END
         | + CASE WHEN 20 * (length(text) -
         |     length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))) <= n_chars
         |   THEN 3 ELSE 0 END""".stripMargin, epoch = 1)),

    // int8 scalar quantization of the embedding table (the 4x ANN-index
    // memory cut): scale materialized to its own column before the
    // per-element lambda (HOF re-evaluation trap), codes on an integer
    // grid so the checksum replays exactly
    "q74_quantize_int8" -> Query((s, dir) =>
      T(s, dir, "embeddings")
        .filter(col("vec_id") < 200)
        .withColumn("scale", VF.quantScale(col("embedding")))
        .withColumn("q", VF.quantizeWith(col("embedding"), col("scale")))
        .select(col("vec_id"), size(col("q")).as("n_dims"),
          round(col("scale"), 6).as("scale_r"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_max(col("q")).as("q_max"))
        .orderBy(col("vec_id")),
      // int8 quantization replay: IEEE double scale + round-half-away —
      // identical in both engines, so codes and checksums match exactly
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 200),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, scale, list_transform(v, x ->
        |  CASE WHEN scale = 0 THEN 0
        |    ELSE CAST(round(x / scale) AS INTEGER) END) AS q FROM s)
        |SELECT vec_id, CAST(len(q) AS INTEGER) AS n_dims,
        |  round(scale, 6) AS scale_r,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), q),
        |    (a, x) -> a + x) AS BIGINT) AS q_sum,
        |  CAST(list_max(q) AS INTEGER) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin),

    // exactly-10-per-language deterministic sample (eval-set
    // construction): rank by (splitmix64(id), id) within each stratum —
    // membership is engine-stable and monotone in n
    "q75_fixed_per_stratum" -> Query((s, dir) =>
      Sampling.fixedPerStratum(T(s, dir, "documents"), "doc_id", "lang", 10)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id")),
      HashOracles.q75FixedPerStratum(10)),

    // Quantized ANN: integer code dot rescaled by both scales — the hot
    // loop is int8 multiply-adds over the 4x-smaller code table
    "q76_quantized_ann" -> Query((s, dir) => {
      val vecs = T(s, dir, "embeddings")
      Similarity.quantizedTopK(
        vecs.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        vecs.filter(col("vec_id") === 0).select(col("embedding").as("q_emb")),
        k = 10)
    },
      // quantized-ANN replay: same int8 codes as q74, integer dot via
      // 1-based list indexing, rescaled with the same association order
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, scale, list_transform(v, x ->
        |  CASE WHEN scale = 0 THEN 0
        |    ELSE CAST(round(x / scale) AS INTEGER) END) AS q FROM s),
        |qr AS (SELECT scale AS q_scale, q AS q_q FROM q WHERE vec_id = 0),
        |sc AS (SELECT t.vec_id,
        |  round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, len(t.q) + 1),
        |        i -> t.q[i] * qr.q_q[i])),
        |      (a, x) -> a + x) AS DOUBLE) * t.scale * qr.q_scale, 4)
        |    AS qscore
        |  FROM q t, qr WHERE t.vec_id <> 0)
        |SELECT vec_id, qscore FROM sc
        |ORDER BY qscore DESC, vec_id LIMIT 10""".stripMargin),

    // Corpus snapshot diff (incremental-pipeline bookkeeping): two
    // simulated crawl versions of the same table — "old" drops ids
    // divisible by 7, "new" drops ids divisible by 10 and rewrites text
    // for ids divisible by 13 — classified added/removed/changed/
    // unchanged by scan-side md5 + one full-outer equi-join
    "q77_snapshot_diff" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.SnapshotDiff.diff(oldSnap, newSnap, "doc_id", "text")
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    },
      // snapshot-diff replay: same simulated versions, md5 over the text
      // bytes (ASCII corpus: DuckDB md5(text) == Spark md5(cast binary))
      """WITH o AS (SELECT doc_id, md5(text) AS old_hash FROM documents
        |  WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id, md5(CASE WHEN doc_id % 13 = 0
        |    THEN text || ' v2' ELSE text END) AS new_hash
        |  FROM documents WHERE doc_id % 10 <> 0),
        |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |    WHEN n.doc_id IS NULL THEN 'removed'
        |    WHEN old_hash = new_hash THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT status, count(*) AS n FROM d
        |GROUP BY status ORDER BY status""".stripMargin),

    // Capstone #2 — the ROUND-4 stages composed end-to-end: boilerplate
    // filter -> Bloom decontamination -> temperature-flattened source
    // mix, with the token array materialized ONCE and threaded through
    // every stage (no stage re-tokenizes). Oracle replays the whole
    // chain, including the bloom bitmap and the sqrt mixing rates.
    "q78_corpus_pipeline_v2" -> Query((s, dir) => {
      val all = T(s, dir, "documents")
      // tokenize ONCE and persist under the caller's scope: the corpus
      // is referenced by the gram explode, the accounting join-back, and
      // the bloom probe — unpersisted, each branch re-runs the regexp
      val corpus = graft.CacheScope.register(
        all.filter(col("doc_id") >= 10)
          .withColumn("__toks", toks(col("text")))
          .persist())
      val bench = all.filter(col("doc_id") < 10)
      val bp = graft.operators.Boilerplate
        .flagBoilerplate(corpus, "doc_id", "text", n = 5, minDf = 3,
          maxFraction = 0.5, tokensCol = Some("__toks"))
        .filter(!col("is_boilerplate"))
        .drop("n_grams", "n_frequent", "is_boilerplate")
      val bloom = Contamination.benchmarkBloom(bench, "text", n = 5)
      val clean = Contamination
        .flagContaminatedBloom(bp, "doc_id", "text", bloom, n = 5,
          tokensCol = Some("__toks"))
        .filter(!col("is_contaminated"))
        .drop("is_contaminated")
      // clean is read twice (stratum counts + the sampled aggregate):
      // persist under the caller's CacheScope, same contract as the
      // other pipeline operators
      val cleanP = graft.CacheScope.register(clean.persist())
      val counts = cleanP.groupBy(col("lang")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Sampling.temperatureSample(cleanP, "doc_id", "lang", counts,
          temperature = 0.5)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("__toks")).cast("long")), lit(0L))
            .as("total_tokens"))
    },
      HashOracles.q78CorpusPipelineV2),

    // Token-budget corpus selection ("the best docs that fit N tokens"):
    // two-phase — per-score totals cumulated driver-side (a few hundred
    // bookkeeping rows), full buckets taken with a plain filter, ONLY
    // the boundary score bucket pays a window (hash-ranked, running sum)
    "q79_token_budget" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("score", TF.qualityScore(col("text"), col("n_chars")))
        .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      graft.operators.CorpusSelection
        .selectByTokenBudget(docs, "doc_id", "score", "n_tokens",
          budget = 20000L)
        .agg(count(lit(1)).as("n_selected"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("total_tokens"),
          coalesce(min(col("score")), lit(-1)).as("min_score"))
    },
      HashOracles.q79TokenBudget(
      s"""2 * ${hitsSql(TF.EnStop)}
         | + CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 5 ELSE 0 END
         | + CASE WHEN 20 * (length(text) -
         |     length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))) <= n_chars
         |   THEN 3 ELSE 0 END""".stripMargin, budget = 20000L)),

    // Dedup cluster-size histogram — the shape diagnostic behind
    // threshold tuning (a fat tail of giant clusters means the
    // threshold is too loose); singletons count as size-1 clusters
    "q81_cluster_histogram" -> Query((s, dir) =>
      Dedup.dedupCorpus(
          T(s, dir, "documents").filter(col("doc_id") < 300),
          "doc_id", "text", threshold = 0.9)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size")),
      HashOracles.q81ClusterHistogram),

    // Cross-source duplication matrix — which sources duplicate which:
    // LSH-verified near-dup pairs joined with their source labels,
    // normalized (least, greatest) and counted. The provenance
    // diagnostic behind source-level dedup/licensing decisions
    "q80_source_dup_matrix" -> Query((s, dir) => {
      val docs = T(s, dir, "documents").filter(col("doc_id") < 300)
      val pairs = Dedup
        .minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.9)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.withColumnRenamed("doc_id", "a_id")
          .withColumnRenamed("source", "sa"), "a_id")
        .join(src.withColumnRenamed("doc_id", "b_id")
          .withColumnRenamed("source", "sb"), "b_id")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },
      HashOracles.q80SourceDupMatrix),

    // ---- text analysis ----------------------------------------------

    "q24_token_stats" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          TF.distinctTokenCount(col("text")).as("n_distinct"),
          TF.punctCount(col("text")).as("n_punct"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id, CAST(len($ToksSql) AS INTEGER) AS n_tokens,
         | CAST(len(list_distinct($ToksSql)) AS INTEGER) AS n_distinct,
         | CAST(length(text) -
         |   length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))
         |   AS INTEGER) AS n_punct
         |FROM documents ORDER BY doc_id""".stripMargin),

    "q25_quality_score" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          TF.qualityScore(col("text"), col("n_chars")).as("quality"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id,
         | CAST(2 * ${hitsSql(TF.EnStop)}
         | + CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 5 ELSE 0 END
         | + CASE WHEN 20 * (length(text) -
         |     length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))) <= n_chars
         |   THEN 3 ELSE 0 END AS INTEGER) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin),

    "q26_langid" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TF.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id, CASE
         | WHEN ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.DeStop)}
         |  AND ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.FrStop)}
         |  AND ${hitsSql(TF.EnStop)} > 0 THEN 'en'
         | WHEN ${hitsSql(TF.DeStop)} >= ${hitsSql(TF.FrStop)}
         |  AND ${hitsSql(TF.DeStop)} > 0 THEN 'de'
         | WHEN ${hitsSql(TF.FrStop)} > 0 THEN 'fr'
         | ELSE 'und' END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin),

    "q27_fingerprint_hash" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id,
         | md5(array_to_string(list_sort(list_distinct($ToksSql)), ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- further relational coverage --------------------------------

    "q28_rollup" -> Query((s, dir) => {
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),

    "q29_anti_join" -> Query((s, dir) => {
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .agg(count(lit(1)).as("n_customers_no_orders"))
    },
      """SELECT count(*) AS n_customers_no_orders FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    "q30_semi_join" -> Query((s, dir) => {
      T(s, dir, "part")
        .join(T(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"),
          "left_semi")
        .agg(count(lit(1)).as("n_parts_used"))
    },
      """SELECT count(*) AS n_parts_used FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin),

    "q31_window_hourly" -> Query((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    },
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q32_sessionize" -> Query((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
            1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("new_sess")).as("n_sessions"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(new_sess) AS BIGINT) AS n_sessions
        |FROM (SELECT user_id, CASE WHEN prev_ts IS NULL
        |    OR date_diff('microsecond', prev_ts, ts) > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT user_id, ts, event_id,
        |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |        AS prev_ts
        |    FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- multimodal plumbing (stubbed codec, real dataflow) ---------

    "q33_multimodal_features" -> Query((s, dir) => {
      val media = Multimodal.asMedia(T(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("n_bytes"), col("byte_entropy_q"))
        .orderBy(col("media_id"))
    },
      HashOracles.q33MultimodalFeatures),

    // Frame sampling plumbing: every 4th 64-byte pseudo-frame per media
    // row (one row per sampled frame — the explode shape a real frame
    // sampler needs)
    "q62_frame_sampling" -> Query((s, dir) => {
      val media = Multimodal.asMedia(
        T(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text")
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame")).as("frame_bytes"))
        .orderBy(col("media_id"), col("frame_idx"))
    },
      // ASCII corpus: byte offsets == char offsets, so substring replays
      // the binary frame slicing exactly
      """WITH m AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE doc_id < 100),
        |f AS (SELECT doc_id, text,
        |  unnest(range(0, greatest(CAST(floor(n / 64) AS BIGINT) - 1, 0) + 1,
        |    4)) AS frame_idx FROM m)
        |SELECT doc_id AS media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(length(substring(text, CAST(frame_idx * 64 + 1 AS INTEGER),
        |    64)) AS INTEGER) AS frame_bytes
        |FROM f ORDER BY 1, 2""".stripMargin),

    // Context-window chunking: one row per 64-token chunk (8 overlap).
    "q47_chunking" -> Query((s, dir) => {
      T(s, dir, "documents").filter(col("doc_id") < 100)
        .withColumn("__toks", toks(col("text"))) // tokenize-once
        .select(col("doc_id"),
          posexplode(TF.chunksOf(col("__toks"), chunkSize = 64, overlap = 8))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_chars"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks
         |  FROM documents WHERE doc_id < 100),
         |n AS (SELECT doc_id, toks,
         |    greatest(CAST(ceil(CAST(len(toks) - 8 AS DOUBLE)/56) AS BIGINT), 1)
         |      AS nc
         |  FROM t),
         |c AS (SELECT doc_id,
         |    unnest(range(0, nc)) AS chunk_idx,
         |    unnest(list_transform(range(0, nc),
         |      i -> array_to_string(list_slice(toks, i*56 + 1, i*56 + 64), ' ')))
         |      AS chunk
         |  FROM n)
         |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         |  CAST(length(chunk) AS INTEGER) AS chunk_chars
         |FROM c ORDER BY 1, 2""".stripMargin),

    // Token-budget batch packing: running token count per language,
    // batch = floor(cumsum/budget) — greedy sequential packing.
    "q48_token_packing" -> Query((s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "documents")
        .withColumn("n_tokens", TF.tokenCount(col("text")))
        .withColumn("batch_id",
          floor((sum(col("n_tokens")).over(w) - col("n_tokens"))
            / lit(4096)).cast("bigint"))
        .groupBy(col("lang"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("batch_tokens"))
        .orderBy(col("lang"), col("batch_id"))
    },
      s"""SELECT lang, batch_id, count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS batch_tokens
         |FROM (SELECT lang, doc_id, n_tokens,
         |    CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens) / 4096) AS BIGINT)
         |      AS batch_id
         |  FROM (SELECT lang, doc_id, len($ToksSql) AS n_tokens
         |    FROM documents))
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // first/last window frames over each customer's order history
    "q49_first_last" -> Query((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T(s, dir, "orders").filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        | first_value(o_orderkey) OVER w AS first_order,
        | last_value(o_orderkey) OVER w AS last_order
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // array aggregation ops: per-language sorted token vocabulary sample
    "q50_array_ops" -> Query((s, dir) => {
      T(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(slice(array_sort(array_distinct(flatten(
          collect_list(slice(toks(col("text")), 1, 5))))), 1, 10)
          .as("vocab_sample"),
          count(lit(1)).as("n_docs"))
        .select(col("lang"), array_join(col("vocab_sample"), " ").as("vocab"),
          col("n_docs"))
        .orderBy(col("lang"))
    },
      s"""SELECT lang,
         | array_to_string(list_slice(list_sort(list_distinct(
         |   flatten(list(list_slice($ToksSql, 1, 5))))), 1, 10), ' ') AS vocab,
         | count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // end-to-end corpus dedup (LSH -> verify -> clusters -> canonical):
    // minhash signatures aren't SQL-expressible -> rows-only gate entry
    "q51_dedup_corpus" -> Query((s, dir) =>
      Dedup.dedupCorpus(
        T(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", threshold = 0.9)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_canonical"), 1).otherwise(0)).as("n_canonical"),
          countDistinct(col("component")).as("n_clusters")),
      HashOracles.q51DedupCorpus),

    // Incremental dedup: the daily-delta path — new docs (id >= 250)
    // joined against the PERSISTED index of the existing corpus
    // (id < 250); verify = MinHash slot-equality estimate, so the
    // existing corpus text is never re-read
    "q65_incremental_dedup" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val index = Dedup.buildDedupIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      Dedup.incrementalDedup(docs.filter(col("doc_id") >= 250),
          "doc_id", "text", index, threshold = 0.5)
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("is_dup"), 1).otherwise(0)).as("n_dup"),
          coalesce(min(col("matched_id")), lit(-1L)).as("first_match"))
    },
      HashOracles.q65IncrementalDedup),

    // THE capstone composition: quality -> decontaminate -> dedup
    // canonical -> deterministic sample, end-to-end, one declarative
    // pipeline — oracle replays every stage in one CTE chain
    "q64_corpus_pipeline" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      CorpusPipeline.prepare(
          docs.filter(col("doc_id") >= 10), "doc_id", "text",
          benchmark = docs.filter(col("doc_id") < 10),
          benchTextCol = "text",
          CorpusPipeline.Config(
            quality = QualityFilters.Thresholds(minTokens = 30,
              maxTokens = 10000, maxDupNgramFraction = 0.05),
            benchNgram = 5, dedupThreshold = 0.9, sampleFraction = 0.5))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(TF.tokenCount(col("text"))), lit(0L))
            .as("total_tokens")) // empty pipeline -> 0, matching the oracle
    },
      HashOracles.q64CorpusPipeline),

    // ---- pivot / set ops / conditional aggregation ------------------

    "q44_pivot" -> Query((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase"))
        .agg(round(sum(col("value")), 2))
        .na.fill(0.0, Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id,
        | round(coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0), 2) AS view,
        | round(coalesce(sum(CASE WHEN event_type = 'click' THEN value END), 0), 2) AS click,
        | round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0), 2) AS purchase
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    "q45_set_ops" -> Query((s, dir) => {
      val withOrders = T(s, dir, "orders").select(col("o_custkey").as("k"))
      val all = T(s, dir, "customer").select(col("c_custkey").as("k"))
      val both = all.intersect(withOrders).agg(count(lit(1)).as("n"))
        .withColumn("op", lit("intersect"))
      val only = all.except(withOrders).agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except"))
      both.unionByName(only).select(col("op"), col("n")).orderBy(col("op"))
    },
      """SELECT 'except' AS op, count(*) AS n FROM (
        |  SELECT c_custkey AS k FROM customer
        |  EXCEPT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'intersect' AS op, count(*) AS n FROM (
        |  SELECT c_custkey AS k FROM customer
        |  INTERSECT SELECT o_custkey FROM orders)
        |ORDER BY 1""".stripMargin),

    "q46_conditional_agg" -> Query((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count_if(col("l_discount") > 0.05).as("n_discounted"),
          round(sum(when(col("l_quantity") > 25, col("l_extendedprice"))
            .otherwise(0.0)), 2).as("bulk_price"),
          round(max(col("l_extendedprice")), 2).as("max_price"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        | count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        | round(sum(CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0 END), 2)
        |   AS bulk_price,
        | round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- session windows (native session_window operator) -----------

    "q34_session_window" -> Query((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },
      // Spark's session_window(gap) ≡ gap-merge sessions: new session when
      // the previous event is more than `gap` older; start = min(ts).
      """SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM (SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM (SELECT user_id, ts, event_id,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) IS NULL
        |        OR date_diff('microsecond',
        |             lag(ts) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id), ts) > 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |    FROM events))
        |GROUP BY user_id, session_id ORDER BY 1, 2""".stripMargin),

    // ---- grouping sets / cube ---------------------------------------

    "q35_cube" -> Query((s, dir) => {
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_extendedprice), 2) AS sum_base
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),

    // ---- string function suite --------------------------------------

    "q36_string_funcs" -> Query((s, dir) => {
      T(s, dir, "customer")
        .select(col("c_custkey"),
          upper(col("c_name")).as("name_upper"),
          length(col("c_name")).as("name_len"),
          levenshtein(col("c_name"), col("c_mktsegment")).as("lev"),
          substring(col("c_name"), 1, 8).as("name_prefix"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, upper(c_name) AS name_upper,
        | CAST(length(c_name) AS INTEGER) AS name_len,
        | CAST(levenshtein(c_name, c_mktsegment) AS INTEGER) AS lev,
        | substr(c_name, 1, 8) AS name_prefix
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- exact percentiles ------------------------------------------

    "q37_percentiles" -> Query((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- U4-style artifact-key expansion (generator) ----------------

    "q38_key_expansion" -> Query((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), explode(array(
          concat(lit("parser_input/"), col("doc_id"), lit(".json")),
          concat(lit("parser_input/"), col("doc_id"), lit("_translated_en.json")),
          concat(lit("indexer_input/"), col("doc_id"), lit(".npy")),
          concat(lit("indexer_input/"), col("doc_id"), lit("_translated_en.npy"))
        )).as("artifact_key"))
        .orderBy(col("doc_id"), col("artifact_key"))
    },
      """SELECT doc_id, 'parser_input/' || doc_id || s AS artifact_key
        |FROM documents, (VALUES ('.json'), ('_translated_en.json')) v(s)
        |UNION ALL
        |SELECT doc_id, 'indexer_input/' || doc_id || s AS artifact_key
        |FROM documents, (VALUES ('.npy'), ('_translated_en.npy')) v(s)
        |ORDER BY 1, 2""".stripMargin),

    // ---- C1 stage-2: extension → content-type lookup ----------------

    "q39_content_type_ext" -> Query((s, dir) => {
      val url = concat(lit("https://example.com/"), col("doc_id"),
        when(col("lang") === "en", ".pdf")
          .when(col("lang") === "de", ".docx").otherwise(".html"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          ContentTypes.fromExtensionCol(url).as("content_type"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, CASE
        | WHEN lang = 'en' THEN 'application/pdf'
        | WHEN lang = 'de' THEN
        |  'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
        | ELSE 'text/html' END AS content_type
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- running windows --------------------------------------------

    // Skew-safe salted join: identical rows to the plain equi-join (the
    // oracle IS the plain join), but the hot l_suppkey fan-out spreads
    // over 8 shuffle splits.
    "q41_salted_join" -> Query((s, dir) => {
      SkewJoins.saltedJoin(
        T(s, dir, "lineitem"), T(s, dir, "supplier"),
        "l_suppkey", "s_suppkey",
        saltCols = Seq(col("l_orderkey"), col("l_linenumber")))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("s_nationkey"))
    },
      // oracle is the PLAIN join — salting must not change any row
      """SELECT s_nationkey, count(*) AS n,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Element-wise mean of embedding vectors per group (the centroid op
    // of IVF training / class prototypes): posexplode → per-position avg.
    "q42_embedding_centroid" -> Query((s, dir) => {
      T(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .select((col("vec_id") % 10).as("grp"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("grp"), col("pos"))
        .agg(round(avg(col("x").cast("double")), 6).as("mean_x"))
        .filter(col("pos") < 4)
        .orderBy(col("grp"), col("pos"))
    },
      """SELECT vec_id % 10 AS grp, CAST(pos - 1 AS INTEGER) AS pos,
        | round(avg(CAST(list_extract(embedding, pos) AS DOUBLE)), 6) AS mean_x
        |FROM embeddings, generate_series(1, 4) AS t(pos)
        |WHERE vec_id < 1000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // running total as EXACT cents (order-free integer prefix — the
    // engines' float window sums accumulate in different trees), one
    // deterministic ÷100.0 at readout
    "q40_running_sum" -> Query((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "orders").filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          (sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
            .over(w).cast("double") / 100.0).as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |   OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
        |   AS running_total
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Exact span-level dedup (the k-token verbatim-passage criterion
    // from the published LLM-corpus dedup recipes): distinct 12-token
    // spans per doc, hub-capped inverted index, pair join on the span
    // hash — never all-pairs
    "q82_span_dedup" -> Query((s, dir) =>
      graft.operators.SpanDedup.sharedSpanPairs(
          T(s, dir, "documents"), "doc_id", "text", spanTokens = 12)
        .orderBy(col("a_id"), col("b_id")),
      // span identity: Spark joins on xxhash64(span), the oracle on the
      // span STRING itself — same accepted ~2^-64 divergence as the LSH
      // band keys. Short docs (< 12 tokens) replay ngramsOf's whole-doc
      // fallback via the UNION branch.
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |spw AS (SELECT doc_id,
         |    array_to_string(t[i + 1 : i + 12], ' ') AS span
         |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 11)) AS i
         |        FROM tok WHERE len(t) >= 12)),
         |sps AS (SELECT doc_id, array_to_string(t, ' ') AS span
         |  FROM tok WHERE len(t) < 12),
         |sp AS (SELECT DISTINCT doc_id, span
         |  FROM (SELECT * FROM spw UNION ALL SELECT * FROM sps)),
         |elig AS (SELECT span FROM sp GROUP BY span
         |  HAVING count(*) BETWEEN 2 AND 50),
         |es AS (SELECT s.doc_id, s.span FROM sp s JOIN elig USING (span))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(count(*) AS BIGINT) AS n_shared_spans
         |FROM es a JOIN es b ON a.span = b.span AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // First-occurrence n-gram novelty: share of each doc's distinct
    // 3-grams whose first corpus occurrence (min doc_id) is this doc —
    // integer grid; the first-seen map joins back un-hinted (corpus-scale
    // gram cardinality, AQE decides)
    "q83_gram_novelty" -> Query((s, dir) =>
      graft.operators.Novelty.gramNovelty(
          T(s, dir, "documents"), "doc_id", "text", n = 3)
        .select(col("doc_id"), col("n_grams"), col("n_novel"))
        .orderBy(col("doc_id")),
      // distinct 3-grams per doc (whole-doc fallback below 3 tokens —
      // the shinglesOf contract), first-seen = min(doc_id) per gram
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(t) >= 3 THEN list_transform(range(0, len(t) - 2),
         |      i -> array_to_string(t[i + 1 : i + 3], ' '))
         |    ELSE [array_to_string(t, ' ')] END)) AS gram FROM tok),
         |f AS (SELECT gram, min(doc_id) AS first_id FROM g GROUP BY gram)
         |SELECT g.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN g.doc_id = f.first_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel
         |FROM g JOIN f USING (gram)
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),

    // BPE merge-step statistic: top-20 adjacent token pairs by
    // occurrence count (duplicates kept — BPE counts occurrences, not
    // docs), ties on pair text; plans as one partial-agg shuffle + a
    // TakeOrdered heap
    "q84_bpe_pair_stats" -> Query((s, dir) =>
      graft.operators.TokenizerTraining.topPairs(
          T(s, dir, "documents"), "doc_id", "text", k = 20),
      // adjacent pairs duplicates-kept, no whole-doc fallback (a lone
      // token is not a pair) — matches TokenizerTraining.adjacentPairs
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |p AS (SELECT unnest(list_transform(range(0, len(t) - 1),
         |    i -> array_to_string(t[i + 1 : i + 2], ' '))) AS pair
         |  FROM tok WHERE len(t) >= 2)
         |SELECT pair, count(*) AS n FROM p
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),

    // SemDeDup: IVF-cluster embeddings (deterministic centroids), pair
    // cosine within list only — candidate generation is the list_id
    // equi-join, never the n² cross
    "q85_semantic_dedup" -> Query((s, dir) =>
      Similarity.semanticDupPairs(T(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4, nLists = 8)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_dropped"),
          round(coalesce(max(col("cos")), lit(-1)), 4).as("best_cos")),
      HashOracles.q85SemanticDedup),

    // Embedding-space decontamination: corpus vectors too close to any
    // benchmark vector (label 0 plays the eval suite); benchmark side
    // broadcast — eval-set cardinality is bounded by construction
    "q86_embedding_decontaminate" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      Contamination.flagContaminatedByEmbedding(
          e.filter(col("label") =!= 0), "vec_id", "embedding",
          e.filter(col("label") === 0).select(col("embedding")),
          "embedding", threshold = 0.35)
        .agg(count(lit(1)).as("n_corpus"),
          sum(when(col("is_contaminated"), 1).otherwise(0)).cast("long")
            .as("n_flagged"))
    },
      // same cosine precedent as q21 (list_cosine_similarity classifies
      // identically at this corpus's pair spacing)
      """WITH b AS (SELECT embedding FROM embeddings WHERE label = 0),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE label <> 0),
        |hit AS (SELECT DISTINCT c.vec_id FROM c, b
        |  WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) >= 0.35)
        |SELECT count(*) AS n_corpus,
        |  CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flagged
        |FROM c LEFT JOIN hit h USING (vec_id)""".stripMargin),

    // Capstone #3 — the round-6 stages composed, tokens materialized
    // once and threaded through novelty + the final accounting: novelty
    // filter (majority-novel 3-grams, integer predicate) → SemDeDup over
    // the survivors' embeddings (doc_id = vec_id) → token accounting
    // Asymmetric containment dedup (|a∩b| / |a| over distinct tokens):
    // catches excerpt/wrapper duplication symmetric Jaccard misses.
    // Capped quadratic ORACLE BASELINE like q20 — the production path
    // generates candidates with LSH bands (q18) or shared spans (q82)
    // and containment-verifies only those
    "q89_containment_pairs" -> Query((s, dir) => {
      val t = T(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), array_distinct(toks(col("text"))).as("toks"))
      t.as("a").join(t.as("b"),
          col("a.doc_id") =!= col("b.doc_id")) // asymmetric: both directions
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          DedupFunctions.containment(col("a.toks"), col("b.toks"))
            .as("cont"))
        .filter(col("cont") >= 0.8)
        .withColumn("cont", round(col("cont"), 4))
        .orderBy(col("a_id"), col("b_id"))
    },
      s"""WITH t AS (SELECT doc_id, list_distinct($ToksSql) AS toks
         |  FROM documents WHERE doc_id < 50)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |    / len(a.toks), 4) AS cont
         |FROM t a, t b
         |WHERE a.doc_id <> b.doc_id
         |  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |    / len(a.toks) >= 0.8
         |ORDER BY 1, 2""".stripMargin),

    // Token-rarity mass: per-doc sum of its tokens' corpus frequencies
    // (integer grid — the log-free CCNet-style frequency prior: low mass
    // = rare/garbled text, high mass = boilerplate-common). Same
    // un-hinted corpus-frequency join shape as q83; the (doc, token)
    // explode is scope-cached inside the operator so the corpus
    // tokenizes ONCE (round-6 verdict's q92 double-scan fix)
    "q92_token_rarity" -> Query((s, dir) => {
      graft.operators.Keywords
        .tokenFrequencyMass(T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS token
         |  FROM documents),
         |f AS (SELECT token, count(*) AS tf FROM tok GROUP BY token)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(f.tf) AS BIGINT) AS freq_mass
         |FROM tok JOIN f USING (token)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Mixture water-filling: per-source token allocations under a total
    // budget with saturation redistribution (src0/src1 upweighted 3x);
    // the windows run over the 20-row stratum table, the corpus pays one
    // distributed aggregation
    "q91_mixture_waterfill" -> Query((s, dir) => {
      val perSource = T(s, dir, "documents")
        .select(col("source"), size(toks(col("text"))).as("n"))
        .groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("c_tokens"))
        .withColumn("weight",
          when(col("source").isin("src0", "src1"), 3.0).otherwise(1.0))
      graft.operators.Mixture.waterfill(perSource, "source", "c_tokens",
          "weight", budget = 15000.0)
        .select(col("source"), col("c_tokens"),
          round(col("alloc"), 2).as("alloc"))
        .orderBy(col("source"))
    },
      // ordered window sums + IEEE division replay bit-for-bit; the FIRST
      // feasible candidate (not min) fixes the water level
      s"""WITH t AS (SELECT source, len($ToksSql) AS n FROM documents),
         |s AS (SELECT source, CAST(sum(n) AS BIGINT) AS c FROM t
         |  GROUP BY source),
         |w AS (SELECT source, c, CASE WHEN source IN ('src0', 'src1')
         |  THEN 3.0 ELSE 1.0 END AS wt FROM s),
         |r AS (SELECT source, c, wt, CAST(c AS DOUBLE) / wt AS ratio
         |  FROM w),
         |x AS (SELECT source, c, wt, ratio,
         |  coalesce(sum(CAST(c AS DOUBLE)) OVER (ORDER BY ratio, source
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
         |    AS cumb,
         |  sum(wt) OVER (ORDER BY ratio, source
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tailw
         |  FROM r),
         |y AS (SELECT *, (15000.0 - cumb) / tailw AS tc FROM x),
         |z AS (SELECT *, first_value(CASE WHEN ratio >= tc THEN tc END
         |  IGNORE NULLS) OVER (ORDER BY ratio, source
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |  AS ts FROM y)
         |SELECT source, c AS c_tokens,
         |  round(CASE WHEN ts IS NULL THEN CAST(c AS DOUBLE)
         |    ELSE greatest(0.0, least(CAST(c AS DOUBLE), wt * ts)) END, 2)
         |    AS alloc
         |FROM z ORDER BY source""".stripMargin),

    // Per-source marginal novelty: which sources still ADD first-seen
    // content — the q83 accounting rolled up on provenance (integer grid)
    "q90_source_novelty" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.operators.Novelty.gramNovelty(docs, "doc_id", "text", n = 3)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).cast("long").as("sum_grams"),
          sum(col("n_novel")).cast("long").as("sum_novel"))
        .orderBy(col("source"))
    },
      s"""WITH tok AS (SELECT doc_id, source, $ToksSql AS t FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(t) >= 3 THEN list_transform(range(0, len(t) - 2),
         |      i -> array_to_string(t[i + 1 : i + 3], ' '))
         |    ELSE [array_to_string(t, ' ')] END)) AS gram FROM tok),
         |f AS (SELECT gram, min(doc_id) AS first_id FROM g GROUP BY gram),
         |per AS (SELECT g.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN g.doc_id = f.first_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel
         |  FROM g JOIN f USING (gram) GROUP BY g.doc_id)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(p.n_grams) AS BIGINT) AS sum_grams,
         |  CAST(sum(p.n_novel) AS BIGINT) AS sum_novel
         |FROM documents d JOIN per p USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin),

    "q88_corpus_pipeline_v3" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("toks", toks(col("text")))
      // the novelty stage feeds BOTH the embedding restriction and the
      // final accounting join — scope-cached so it runs once
      val novel = graft.CacheScope.register(
        graft.operators.Novelty
          .gramNovelty(docs, "doc_id", "text", n = 3,
            tokensCol = Some("toks"))
          .filter(col("n_novel") * 2 >= col("n_grams"))
          .persist())
      val emb = T(s, dir, "embeddings")
        .join(novel.select(col("doc_id").as("vec_id")), "vec_id")
      val kept = Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.4, nLists = 8)
      novel.join(kept.select(col("vec_id").as("doc_id")), "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).cast("long").as("total_tokens"))
    },
      HashOracles.q88CorpusPipelineV3),

    // Lloyd's k-means (k=4, 2 updates + final assignment): map-only
    // assignment passes with the k×dim centroid literal, one partial-agg
    // shuffle per update; centroids on the 1e-6 grid between iterations
    // (cross-engine determinism — see Clustering)
    "q87_kmeans" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 4, iters = 2)
      graft.operators.Clustering.assign(e, "vec_id", "embedding", cents)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("dist_sq")), 2).as("inertia"))
        .orderBy(col("cluster"))
    },
      HashOracles.q87Kmeans(4)),

    // Trained SemDeDup — q85's recall dial realized: k-means centroids
    // (the actual published recipe) + top-2 multi-assignment, pairs
    // collapsed on the pair key. The oracle replays the full trained
    // chain (Lloyd's ×2 on the 1e-6 grid → top-2 assign → within-list
    // cosine)
    "q93_trained_semantic_dedup" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 4, iters = 2)
      Similarity.semanticDupPairsTrained(e, "vec_id", "embedding",
          threshold = 0.4, centroids = cents, nAssign = 2)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_dropped"),
          round(coalesce(max(col("cos")), lit(-1)), 4).as("best_cos"))
    },
      HashOracles.q93TrainedSemanticDedup(4)),

    // BPE train→encode: 8 trained merges applied to the whole corpus in
    // ONE UDF pass (rank-priority encoder), accounting + md5 of each
    // encoded stream; the oracle replays training AND encoding
    // (per-round string folds) so the md5s pin content, not just counts
    "q94_bpe_encode" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      // checkpointEvery=3: the per-round merge-UDF chain re-applies every
      // prior merge, so shorter lineage cuts beat the default at 8
      // rounds (measured 4.6 -> 3.4 s warm at sf0.1)
      val merges = graft.operators.TokenizerTraining.trainMerges(
        docs, "doc_id", "text", rounds = 8, minCount = 1,
        checkpointEvery = 3)
      graft.operators.TokenizerTraining
        .encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"),
          size(col("encoded")).cast("long").as("n_tokens"),
          size(filter(col("encoded"), x => x.contains(" ")))
            .cast("long").as("n_merged"),
          md5(concat_ws("\u001f", col("encoded"))).as("stream_md5"))
        .orderBy(col("doc_id"))
    },
      HashOracles.q94BpeEncode(8)),

    // Token-id export against the trained vocab — the last mile of the
    // tokenizer story (train → encode → ids): vocabulary = sorted base
    // symbols then merges in training order (distributed sort +
    // zipWithIndex, never a global window), ids joined un-hinted. Per
    // doc: count, id sum, md5 of the position-ordered id sequence
    "q101_bpe_token_ids" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = graft.operators.TokenizerTraining.trainMerges(
        docs, "doc_id", "text", rounds = 8, minCount = 1,
        checkpointEvery = 3)
      graft.operators.TokenizerTraining
        .encodeIds(docs, "doc_id", "text", merges)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("token_id")).cast("long").as("sum_ids"),
          md5(concat_ws(",",
            transform(
              array_sort(collect_list(struct(col("pos"),
                col("token_id")))),
              x => x.getField("token_id").cast("string"))))
            .as("ids_md5"))
        .orderBy(col("doc_id"))
    },
      HashOracles.q101BpeTokenIds(8)),

    // Graded decontamination — the published refinement of q56's binary
    // any-hit rule: per-doc SHARE of distinct 5-grams found in the
    // benchmark, so a long doc quoting one test item is separable from
    // a wholesale copy ("drop at >X% overlap", not "drop on any hit")
    "q113_contamination_fraction" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.operators.Contamination.contaminationFraction(
          docs.filter(col("doc_id") >= 10), "doc_id", "text",
          docs.filter(col("doc_id") < 10), "text", n = 5)
        .select(col("doc_id"), col("n_grams"), col("n_overlap"),
          col("contamination_frac"))
        .orderBy(col("doc_id"))
    },
      // per-doc DISTINCT NON-EMPTY shingles (the Contamination.gramsOf
      // convention — the empty fallback gram is excluded, so an empty doc
      // has n_grams = 0 and the zero-gram guard is live) on both sides;
      // the semi-join is an inner join because bench grams are distinct
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |sg AS (SELECT doc_id, list_filter(
         |    list_distinct(CASE WHEN len(t) >= 5
         |    THEN list_transform(range(0, len(t) - 4),
         |      i -> array_to_string(t[i + 1 : i + 5], ' '))
         |    ELSE [array_to_string(t, ' ')] END),
         |    g -> g <> '') AS gs FROM tk),
         |bench AS (SELECT DISTINCT unnest(gs) AS gram FROM sg
         |  WHERE doc_id < 10),
         |cg AS (SELECT doc_id, unnest(gs) AS gram FROM sg
         |  WHERE doc_id >= 10),
         |ov AS (SELECT doc_id, count(*) AS n_overlap FROM cg
         |  JOIN bench USING (gram) GROUP BY doc_id),
         |per AS (SELECT doc_id, len(gs) AS n_grams FROM sg
         |  WHERE doc_id >= 10)
         |SELECT p.doc_id, CAST(p.n_grams AS INTEGER) AS n_grams,
         |  CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CASE WHEN p.n_grams = 0 THEN 0.0
         |    ELSE round(CAST(coalesce(o.n_overlap, 0) AS DOUBLE)
         |      / p.n_grams, 4) END AS contamination_frac
         |FROM per p LEFT JOIN ov o USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin),

    // The benchmark-side leakage report: WHICH eval items are
    // compromised, and how widely — one row per benchmark doc with the
    // count of corpus docs sharing >= 1 of its 5-grams (the doc-side
    // flag only says the corpus is dirty; an eval owner needs this view)
    "q114_benchmark_leakage" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.operators.Contamination.benchmarkLeakage(
          docs.filter(col("doc_id") >= 10), "doc_id", "text",
          docs.filter(col("doc_id") < 10)
            .select(col("doc_id").as("bench_id"), col("text")),
          "bench_id", "text", n = 5)
        .orderBy(col("bench_id"))
    },
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |sg AS (SELECT doc_id, list_filter(
         |    list_distinct(CASE WHEN len(t) >= 5
         |    THEN list_transform(range(0, len(t) - 4),
         |      i -> array_to_string(t[i + 1 : i + 5], ' '))
         |    ELSE [array_to_string(t, ' ')] END),
         |    g -> g <> '') AS gs FROM tk),
         |bg AS (SELECT doc_id AS bench_id, unnest(gs) AS gram FROM sg
         |  WHERE doc_id < 10),
         |cg AS (SELECT doc_id, unnest(gs) AS gram FROM sg
         |  WHERE doc_id >= 10),
         |hit AS (SELECT b.bench_id, c.doc_id FROM cg c
         |  JOIN bg b USING (gram) GROUP BY b.bench_id, c.doc_id),
         |cnt AS (SELECT bench_id, count(*) AS n_leaking_docs FROM hit
         |  GROUP BY bench_id)
         |SELECT b.bench_id,
         |  CAST(coalesce(c.n_leaking_docs, 0) AS BIGINT) AS n_leaking_docs
         |FROM (SELECT DISTINCT doc_id AS bench_id FROM documents
         |      WHERE doc_id < 10) b
         |LEFT JOIN cnt c USING (bench_id) ORDER BY b.bench_id""".stripMargin),

    // Capstone #6 — TOPIC-balanced mix assembly: cluster the corpus in
    // EMBEDDING space (trained k-means), then waterfill a token budget
    // across the topics equally and realize the pick per topic — the
    // semantic companion to q99's source-balanced mix (topic balance is
    // how a real pipeline counters source skew the metadata cannot
    // see). Cross-table: documents supply token mass, embeddings supply
    // the clustering; join on id, one pass each
    "q112_topic_balanced_mix" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), size(toks(col("text"))).cast("long")
          .as("n_tok"))
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 4, iters = 2)
      val assigned = graft.operators.Clustering
        .assign(e, "vec_id", "embedding", cents)
        .select(col("vec_id").as("doc_id"),
          concat(lit("c"), col("cluster")).as("topic"))
      val clustered = graft.CacheScope.register(
        docs.join(assigned, Seq("doc_id")).persist())
      val caps = clustered.groupBy(col("topic"))
        .agg(sum(col("n_tok")).cast("long").as("c_tokens"))
        .withColumn("weight", lit(1.0))
      val alloc = graft.operators.Mixture.waterfill(caps, "topic",
        "c_tokens", "weight", budget = 8000.0)
      graft.operators.Mixture.selectByAllocations(
          clustered, "doc_id", "topic", "n_tok", alloc)
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n_sel"),
          sum(col("n_tok")).cast("long").as("sel_tokens"))
        .orderBy(col("topic"))
    },
      HashOracles.q112TopicBalancedMix(4, 8000.0, 64)),

    // Zipf fit — the corpus-health diagnostic behind vocabulary/OCR
    // audits: least-squares slope of ln(freq) on ln(rank) over the
    // ranked vocabulary (natural text ≈ -1; this near-uniform synthetic
    // fixture sits far above — which is exactly what the diagnostic is
    // for). Rank via distributed sort + zipWithIndex, never a global
    // window over a hapax-dominated vocabulary
    "q110_zipf_fit" -> Query((s, dir) =>
      graft.operators.Keywords.zipfFit(T(s, dir, "documents"),
        "doc_id", "text"),
      // least-squares over (ln rank, ln freq); rank ties break on token
      // so both engines rank identically; intercept uses the UNROUNDED
      // slope (mirroring the Spark expression exactly)
      s"""WITH tok AS (SELECT unnest($ToksSql) AS token FROM documents),
         |f AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
         |r AS (SELECT freq,
         |  row_number() OVER (ORDER BY freq DESC, token) AS rank FROM f),
         |s AS (SELECT count(*) AS n, CAST(sum(freq) AS BIGINT) AS nt,
         |  sum(ln(CAST(rank AS DOUBLE))) AS sx,
         |  sum(ln(CAST(freq AS DOUBLE))) AS sy,
         |  sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE))) AS sxy,
         |  sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))) AS sxx
         |  FROM r)
         |SELECT n AS n_vocab, nt AS n_tokens,
         |  CASE WHEN n < 2 THEN NULL ELSE
         |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
         |  END AS slope,
         |  CASE WHEN n < 2 THEN NULL ELSE
         |    round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
         |      / n, 4)
         |  END AS intercept
         |FROM s""".stripMargin),

    // Frozen-vocab OOV — encoding NEW data against an OLD tokenizer,
    // the deployment case encodeIds' vocab parameter exists for: merges
    // AND vocabulary train on a 2-doc reference split (the 31-word
    // near-uniform fixture vocabulary means 2 docs genuinely miss a few
    // words), the held-out half encodes against the frozen table, and
    // every out-of-vocabulary token surfaces as id -1 — visible,
    // counted, and position-replayed in the md5
    "q105_frozen_vocab_oov" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val trainDocs = docs.filter(col("doc_id") < 2)
      val merges = graft.operators.TokenizerTraining.trainMerges(
        trainDocs, "doc_id", "text", rounds = 8, minCount = 1,
        checkpointEvery = 3)
      val frozen = graft.operators.TokenizerTraining.vocabulary(
        trainDocs, "doc_id", "text", merges)
      graft.operators.TokenizerTraining.encodeIds(
          docs.filter(col("doc_id") >= 250), "doc_id", "text", merges,
          vocab = Some(frozen))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("token_id") === -1L, 1L).otherwise(0L))
            .cast("long").as("n_oov"),
          sum(col("token_id")).cast("long").as("sum_ids"),
          md5(concat_ws(",",
            transform(
              array_sort(collect_list(struct(col("pos"),
                col("token_id")))),
              x => x.getField("token_id").cast("string"))))
            .as("ids_md5"))
        .orderBy(col("doc_id"))
    },
      HashOracles.q105FrozenVocabOov(8,
      " WHERE doc_id < 2", " WHERE doc_id >= 250")),

    // Containment dedup, PRODUCTION path (the scale form of the q89
    // capped baseline): span-hash candidates → asymmetric containment
    // verify ≥ τ over the FULL corpus — O(candidates), never n²
    "q95_containment_verified" -> Query((s, dir) =>
      graft.operators.SpanDedup.containmentVerifiedPairs(
          T(s, dir, "documents"), "doc_id", "text", tau = 0.6)
        .orderBy(col("a_id"), col("b_id")),
      // span-candidate generation is the q82 fragment (span STRING join
      // vs Spark's xxhash64 — same accepted 2^-64 divergence); the verify
      // step mirrors DedupFunctions.containment including the empty-side
      // 0.0 guard. Candidates expand to BOTH orientations before the
      // asymmetric verify.
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |spw AS (SELECT doc_id,
         |    array_to_string(t[i + 1 : i + 12], ' ') AS span
         |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 11)) AS i
         |        FROM tok WHERE len(t) >= 12)),
         |sps AS (SELECT doc_id, array_to_string(t, ' ') AS span
         |  FROM tok WHERE len(t) < 12),
         |sp AS (SELECT DISTINCT doc_id, span
         |  FROM (SELECT * FROM spw UNION ALL SELECT * FROM sps)),
         |elig AS (SELECT span FROM sp GROUP BY span
         |  HAVING count(*) BETWEEN 2 AND 50),
         |es AS (SELECT s.doc_id, s.span FROM sp s JOIN elig USING (span)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM es a JOIN es b ON a.span = b.span AND a.doc_id < b.doc_id),
         |bi AS (SELECT a_id, b_id FROM cand
         |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM cand),
         |dt AS (SELECT doc_id, list_distinct(t) AS toks FROM tok),
         |v AS (SELECT c.a_id, c.b_id,
         |  CASE WHEN len(ta.toks) = 0 THEN 0.0
         |    ELSE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
         |      / len(ta.toks) END AS cont
         |  FROM bi c JOIN dt ta ON ta.doc_id = c.a_id
         |  JOIN dt tb ON tb.doc_id = c.b_id)
         |SELECT a_id, b_id, round(cont, 4) AS cont FROM v
         |WHERE cont >= 0.6 ORDER BY 1, 2""".stripMargin),

    // IDF-weighted containment verify — the measured-honesty fix for
    // q89/q95: on a small-vocabulary corpus PLAIN containment is
    // near-vacuous (common-word overlap alone crosses τ), so the verify
    // metric weights each token by ln(N/df) — ubiquitous tokens
    // contribute ~0 and only DISTINCTIVE overlap survives (48 plain
    // orientations at τ=0.6 → ~25 weighted at τ=0.8 on this corpus,
    // clustered at 1.0 with a wide margin below the threshold)
    "q111_weighted_containment" -> Query((s, dir) =>
      graft.operators.SpanDedup.weightedContainmentVerifiedPairs(
          T(s, dir, "documents"), "doc_id", "text", tau = 0.8)
        .orderBy(col("a_id"), col("b_id")),
      // q95's candidate chain with the idf-weighted verify: token weights
      // ln(N/df) over per-doc DISTINCT tokens, both orientations from the
      // bidirectional candidate expansion, zero-total-weight guard
      // mirrored; filter on the unrounded value (the q85 threshold
      // precedent — the sf0.01 value clusters sit at ~0.75 and ~1.0, far
      // from the 0.8 cut)
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |spw AS (SELECT doc_id,
         |    array_to_string(t[i + 1 : i + 12], ' ') AS span
         |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 11)) AS i
         |        FROM tok WHERE len(t) >= 12)),
         |sps AS (SELECT doc_id, array_to_string(t, ' ') AS span
         |  FROM tok WHERE len(t) < 12),
         |sp AS (SELECT DISTINCT doc_id, span
         |  FROM (SELECT * FROM spw UNION ALL SELECT * FROM sps)),
         |elig AS (SELECT span FROM sp GROUP BY span
         |  HAVING count(*) BETWEEN 2 AND 50),
         |es AS (SELECT s.doc_id, s.span FROM sp s JOIN elig USING (span)),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM es a JOIN es b ON a.span = b.span AND a.doc_id < b.doc_id),
         |dt AS (SELECT doc_id, list_distinct(t) AS toks FROM tok),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM dt),
         |idf AS (SELECT w AS token, ln(nn.nd / count(*)) AS wt FROM
         |  (SELECT doc_id, unnest(list_distinct(t)) AS w FROM tok), nn
         |  GROUP BY w, nn.nd),
         |bi AS (SELECT a_id, b_id FROM cand
         |  UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM cand),
         |ex AS (SELECT c.a_id, c.b_id, unnest(ta.toks) AS token
         |  FROM bi c JOIN dt ta ON ta.doc_id = c.a_id),
         |fl AS (SELECT e.a_id, e.b_id, e.token,
         |  list_contains(tb.toks, e.token) AS inb
         |  FROM ex e JOIN dt tb ON tb.doc_id = e.b_id),
         |wv AS (SELECT f.a_id, f.b_id,
         |  CASE WHEN sum(i.wt) = 0 THEN 0.0
         |    ELSE sum(CASE WHEN f.inb THEN i.wt ELSE 0.0 END) / sum(i.wt)
         |  END AS cw
         |  FROM fl f JOIN idf i USING (token) GROUP BY f.a_id, f.b_id)
         |SELECT a_id, b_id, round(cw, 4) AS cont_w FROM wv
         |WHERE cw >= 0.8 ORDER BY 1, 2""".stripMargin),

    // Incremental span dedup through the PERSISTED index: the corpus
    // (doc_id < 450) is written to disk in the bucketed span-index
    // layout (sidecar-validated moduli), then the delta (doc_id >= 450)
    // is flagged against it — the daily-delta path for verbatim-passage
    // dedup, exercised through the gate END-TO-END including the disk
    // round-trip. Oracle replays the span join on span STRINGS (the q82
    // xxhash64 2^-64 precedent)
    "q97_incremental_span_dedup" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q97_span_index").getAbsolutePath
      graft.operators.SpanDedup.writeSpanIndex(
        docs.filter(col("doc_id") < 450), "doc_id", "text", path,
        spanTokens = 12)
      graft.operators.SpanDedup.incrementalSpanDedup(
          docs.filter(col("doc_id") >= 450), "doc_id", "text", path)
        .select(col("doc_id"), col("n_dup_spans"), col("has_dup_span"),
          coalesce(col("matched_id"), lit(-1L)).as("matched_id"))
        .orderBy(col("doc_id"))
    },
      // the persisted-index path replayed as a plain span join: corpus
      // spans (doc_id < 450) vs delta spans (>= 450), hub cap = distinct
      // corpus docs per MATCHED span <= 50, matched_id = min eligible
      // corpus id — exactly incrementalSpanDedup's accounting
      SpanProbe450Sql),

    // Persisted-index DELTA FOLD, gated through the disk round-trip:
    // day 0 writes the span index (doc_id < 400), day 1's batch
    // (400-449) is FOLDED in with appendToSpanIndex (bucket moduli from
    // the sidecar, one appended file per touched leaf — no rebuild),
    // then day 2's delta (>= 450) probes the folded index. The oracle is
    // EXACTLY q97's corpus-vs-delta span join at the <450 split: a fold
    // that wrote wrong buckets or hashed a different span length would
    // land rows where the (h_bucket, h) probe join cannot see them —
    // silent misses the hash compare catches
    "q106_span_index_fold" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q106_span_fold").getAbsolutePath
      graft.operators.SpanDedup.writeSpanIndex(
        docs.filter(col("doc_id") < 400), "doc_id", "text", path,
        spanTokens = 12)
      graft.operators.SpanDedup.appendToSpanIndex(
        docs.filter(col("doc_id") >= 400 && col("doc_id") < 450),
        "doc_id", "text", path)
      graft.operators.SpanDedup.incrementalSpanDedup(
          docs.filter(col("doc_id") >= 450), "doc_id", "text", path)
        .select(col("doc_id"), col("n_dup_spans"), col("has_dup_span"),
          coalesce(col("matched_id"), lit(-1L)).as("matched_id"))
        .orderBy(col("doc_id"))
    },
      // the fold is semantically invisible: probing an index written as
      // (<400) then appendToSpanIndex(400-449) must EQUAL probing one
      // built over <450 at once — so the oracle is q97's replay verbatim
      SpanProbe450Sql),

    // Capstone #4 — assemble a BUDGETED training mix end-to-end:
    // quality gate → per-source capacities → waterfill under a token
    // budget (src0/src1 upweighted 3×) → realized document selection →
    // per-source accounting. Tokens materialized ONCE and threaded
    // through quality, capacity, and selection; the oracle replays the
    // whole chain
    "q99_corpus_pipeline_v4" -> Query((s, dir) => {
      val kept = graft.CacheScope.register(
        QualityFilters.keep(
            T(s, dir, "documents").withColumn("toks", toks(col("text"))),
            "text", QualityFilters.Thresholds(minTokens = 30,
              maxTokens = 10000, maxDupNgramFraction = 0.05),
            tokensCol = Some("toks"))
          .select(col("doc_id"), col("source"),
            size(col("toks")).cast("long").as("n_tok"))
          .persist())
      val caps = kept.groupBy(col("source"))
        .agg(sum(col("n_tok")).cast("long").as("c_tokens"))
        .withColumn("weight",
          when(col("source").isin("src0", "src1"), 3.0).otherwise(1.0))
      val alloc = graft.operators.Mixture.waterfill(caps, "source",
        "c_tokens", "weight", budget = 12000.0)
      graft.operators.Mixture
        .selectByAllocations(kept, "doc_id", "source", "n_tok", alloc)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sel"),
          sum(col("n_tok")).cast("long").as("sel_tokens"))
        .orderBy(col("source"))
    },
      HashOracles.q99CorpusPipelineV4(12000.0, 64)),

    // CCNet-style n-gram LM quality scoring: a bigram LM trained on the
    // reference split (doc_id < 250) scores the held-out half by
    // average add-α-smoothed ln-prob — low = garbled/unnatural text.
    // Un-hinted corpus-cardinality count-table joins (the df-join
    // rule); ln rounded to the 1e-4 grid after the per-doc average
    "q100_ngram_lm_score" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val lm = graft.operators.NgramLm.train(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      graft.operators.NgramLm.logProbScore(
          docs.filter(col("doc_id") >= 250), "doc_id", "text", lm)
        .orderBy(col("doc_id"))
    },
      // add-α bigram LM replay: counts from the train split, V = distinct
      // train tokens, lp = ln((c2 + .4)/(c1 + .4·V)) with coalesce(0) for
      // unseen/OOV — ln averaged per doc then rounded to the 1e-4 grid
      // (q69 precedent: round AFTER the aggregate, compare on the grid)
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |tr AS (SELECT * FROM tok WHERE doc_id < 250),
         |te AS (SELECT * FROM tok WHERE doc_id >= 250),
         |uni AS (SELECT w AS l, count(*) AS c1 FROM
         |  (SELECT unnest(t) AS w FROM tr) GROUP BY w),
         |v AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM uni),
         |bi AS (SELECT l, r, count(*) AS c2 FROM
         |  (SELECT t[j] AS l, t[j + 1] AS r FROM
         |    (SELECT t, unnest(range(1, len(t))) AS j FROM tr))
         |  GROUP BY l, r),
         |tep AS (SELECT doc_id, t[j] AS l, t[j + 1] AS r FROM
         |  (SELECT doc_id, t, unnest(range(1, len(t))) AS j FROM te)),
         |sc AS (SELECT p.doc_id,
         |  ln((coalesce(b.c2, 0) + 0.4) / (coalesce(u.c1, 0) + 0.4 * v.vs))
         |    AS lp
         |  FROM tep p
         |  LEFT JOIN bi b ON b.l = p.l AND b.r = p.r
         |  LEFT JOIN uni u ON u.l = p.l
         |  CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  round(avg(lp), 4) AS avg_lp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // The generalized-order form of q100: a TRIGRAM LM (3-gram over
    // 2-gram context, the step toward CCNet's 5-gram) trained on the
    // reference split scoring the held-out half — same un-hinted count
    // joins, same 1e-4 grid
    "q103_trigram_lm_score" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val lm = graft.operators.NgramLm.train(
        docs.filter(col("doc_id") < 250), "doc_id", "text", n = 3)
      graft.operators.NgramLm.logProbScore(
          docs.filter(col("doc_id") >= 250), "doc_id", "text", lm)
        .orderBy(col("doc_id"))
    },
      // trigram over bigram-context (no-fallback gram counting on BOTH
      // sides); V = distinct train tokens
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |tr AS (SELECT * FROM tok WHERE doc_id < 250),
         |te AS (SELECT * FROM tok WHERE doc_id >= 250),
         |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM
         |  (SELECT unnest(t) AS w FROM tr)),
         |n3 AS (SELECT g, count(*) AS cn FROM
         |  (SELECT array_to_string(t[i + 1 : i + 3], ' ') AS g FROM
         |    (SELECT t, unnest(range(0, len(t) - 2)) AS i FROM tr
         |     WHERE len(t) >= 3)) GROUP BY g),
         |n2 AS (SELECT c, count(*) AS cc FROM
         |  (SELECT array_to_string(t[i + 1 : i + 2], ' ') AS c FROM
         |    (SELECT t, unnest(range(0, len(t) - 1)) AS i FROM tr
         |     WHERE len(t) >= 2)) GROUP BY c),
         |tep AS (SELECT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS g,
         |    array_to_string(t[i + 1 : i + 2], ' ') AS c
         |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 2)) AS i
         |        FROM te WHERE len(t) >= 3)),
         |sc AS (SELECT p.doc_id,
         |  ln((coalesce(n3.cn, 0) + 0.4) / (coalesce(n2.cc, 0) + 0.4 * v.vs))
         |    AS lp
         |  FROM tep p
         |  LEFT JOIN n3 ON n3.g = p.g
         |  LEFT JOIN n2 ON n2.c = p.c
         |  CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  round(avg(lp), 4) AS avg_lp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Persisted TRAINED IVF, queried end-to-end through the gate: train
    // k-means centroids, write the partitioned index + centroid sidecar
    // to disk, answer a top-k probe against the re-read index (probe
    // lists chosen driver-side from the sidecar matrix → literal isin →
    // static partition pruning). Oracle replays train + assign + probe
    // choice + within-list cosine top-k
    "q98_trained_ivf_query" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 4, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q98_ivf").getAbsolutePath
      Similarity.writeIvfIndex(e, "vec_id", "embedding", path, cents)
      val query = e.filter(col("vec_id") === 0L)
        .select(transform(col("embedding"), x => x.cast("double")).as("q"))
        .collect().head.getSeq[Double](0).toSeq
      Similarity.ivfTopKIndexed(s, path, query, k = 10, nProbe = 2)
        .withColumn("cos", round(col("cos"), 4))
    },
      HashOracles.q98TrainedIvfQuery(4, 2, 10)),

    // IVF delta fold — the vector-index member of the fold family
    // (q106 spans, q65 bands): write the trained index over half the
    // vectors, fold the other half in with appendToIvfIndex (assignment
    // against the sidecar's OWN centroids), query through the folded
    // index. Oracle is exactly q98's full-corpus replay — the fold must
    // be invisible to probe semantics
    "q109_ivf_index_fold" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 4, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q109_ivf_fold").getAbsolutePath
      Similarity.writeIvfIndex(e.filter(col("vec_id") < 150),
        "vec_id", "embedding", path, cents)
      Similarity.appendToIvfIndex(e.filter(col("vec_id") >= 150),
        "vec_id", "embedding", path)
      val query = e.filter(col("vec_id") === 0L)
        .select(transform(col("embedding"), x => x.cast("double")).as("q"))
        .collect().head.getSeq[Double](0).toSeq
      Similarity.ivfTopKIndexed(s, path, query, k = 10, nProbe = 2)
        .withColumn("cos", round(col("cos"), 4))
    },
      // the fold is invisible to probe semantics: an index written as
      // (<150) then appendToIvfIndex(>=150) answers exactly as q98's
      // one-shot full index — same replay, same parameters
      HashOracles.q98TrainedIvfQuery(4, 2, 10)),

    // Quantized persisted IVF — the at-rest composition of q98's index
    // layout with q74/q76's int8 quantization: list files store codes +
    // per-vector scale (4× smaller at 100 TB — the table that has to
    // fit), probe lists prune statically via the sidecar matrix, and
    // the probed lists score by integer dot rescaled by both scales
    "q108_quantized_ivf_query" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 4, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q108_qivf").getAbsolutePath
      Similarity.writeIvfIndexQuantized(e, "vec_id", "embedding", path,
        cents)
      val query = e.filter(col("vec_id") === 0L)
        .select(transform(col("embedding"), x => x.cast("double")).as("q"))
        .collect().head.getSeq[Double](0).toSeq
      Similarity.ivfTopKIndexedQuantized(s, path, query, k = 10,
        nProbe = 2)
    },
      HashOracles.q108QuantizedIvfQuery(4, 2, 10)),

    // Span-reuse communities: connected components over the shared-span
    // pair edges — which documents form verbatim-reuse families (the
    // SpanDedup → clustering composition; candidate edges are the span
    // equi-join, the closure is the q43-class hybrid CC)
    "q102_span_dup_clusters" -> Query((s, dir) =>
      Dedup.connectedComponents(
          graft.operators.SpanDedup.sharedSpanPairs(
              T(s, dir, "documents"), "doc_id", "text", spanTokens = 12)
            .select(col("a_id"), col("b_id")),
          "a_id", "b_id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("size"))
        .orderBy(col("component")),
      // span edges (q82 fragment) closed transitively with the recursive
      // CTE; component label = min doc id, per-family sizes
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |spw AS (SELECT doc_id,
         |    array_to_string(t[i + 1 : i + 12], ' ') AS span
         |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 11)) AS i
         |        FROM tok WHERE len(t) >= 12)),
         |sps AS (SELECT doc_id, array_to_string(t, ' ') AS span
         |  FROM tok WHERE len(t) < 12),
         |sp AS (SELECT DISTINCT doc_id, span
         |  FROM (SELECT * FROM spw UNION ALL SELECT * FROM sps)),
         |elig AS (SELECT span FROM sp GROUP BY span
         |  HAVING count(*) BETWEEN 2 AND 50),
         |es AS (SELECT s.doc_id, s.span FROM sp s JOIN elig USING (span)),
         |pv AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM es a JOIN es b ON a.span = b.span AND a.doc_id < b.doc_id),
         |edges AS (SELECT a_id AS s, b_id AS d FROM pv
         |  UNION SELECT b_id, a_id FROM pv),
         |nodes AS (SELECT DISTINCT s AS node FROM edges),
         |reach AS (WITH RECURSIVE r(node, lbl) AS (
         |  SELECT node, node FROM nodes UNION
         |  SELECT e.d, r.lbl FROM r JOIN edges e ON e.s = r.node)
         |  SELECT node, min(lbl) AS component FROM r GROUP BY node)
         |SELECT component, CAST(count(*) AS BIGINT) AS size
         |FROM reach GROUP BY component ORDER BY component""".stripMargin),

    // Epoch-repeat mixing — the oversample-small-quality-sources recipe:
    // waterfill with maxEpochs=3 lets the upweighted sources (src0/src1
    // at 5×) allocate past their capacity (effective cap = 3× in ratio
    // and clamp), and selectByAllocationsEpochs realizes the repeated
    // mass as (doc, epoch) rows — complete passes 1..fe for every doc,
    // the remainder as the standard hash-prefix pick at epoch fe+1
    "q107_epoch_mixture" -> Query((s, dir) => {
      val docs = graft.CacheScope.register(T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(toks(col("text"))).cast("long").as("n_tok"))
        .persist())
      val perSource = docs.groupBy(col("source"))
        .agg(sum(col("n_tok")).cast("long").as("c_tokens"))
        .withColumn("weight",
          when(col("source").isin("src0", "src1"), 5.0).otherwise(1.0))
      val alloc = graft.operators.Mixture.waterfill(perSource, "source",
        "c_tokens", "weight", budget = 20000.0, maxEpochs = 3)
      graft.operators.Mixture.selectByAllocationsEpochs(
          docs, "doc_id", "source", "n_tok", alloc, maxEpochs = 3)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("epoch")).cast("int").as("max_epoch"),
          sum(col("n_tok")).cast("long").as("sel_tokens"))
        .orderBy(col("source"))
    },
      HashOracles.q107EpochSelection(20000.0, 64, 3)),

    // CCNet capstone #5 — the published per-language pipeline end-to-end:
    // language-ID → ONE-PASS per-language 5-gram LM (count tables keyed
    // by (lang, gram); V rides as a column, never a driver loop over
    // languages) → per-doc avg smoothed ln-prob → head/middle/tail cut
    // on the per-language (lang, score) HISTOGRAM (bounded table — no
    // corpus-wide window) → bucket-weighted waterfill (head 6×) →
    // realized document pick per (lang, bucket) stratum. First gate
    // exercise of LM order > 3. The doc table tokenizes ONCE for
    // lang-ID, training, scoring, capacities, and selection
    "q104_ccnet_selection" -> Query((s, dir) => {
      val docs = graft.CacheScope.register(T(s, dir, "documents")
        .withColumn("toks", toks(col("text")))
        .select(col("doc_id"), col("toks"),
          TF.langIdOf(col("toks")).as("lang"),
          size(col("toks")).cast("long").as("n_tok"))
        .persist())
      val lm = graft.operators.NgramLm.trainGrouped(
        docs.filter(col("doc_id") < 250), "doc_id", "text", "lang",
        n = 5, tokensCol = Some("toks"))
      val scored = graft.operators.NgramLm.logProbScoreGrouped(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", "lang", lm,
        tokensCol = Some("toks"))
      // scored docs carry (lang, bucket); the stratum key is their
      // concatenation (selectByAllocations takes one key column)
      val bucketed = graft.CacheScope.register(
        graft.operators.NgramLm.perplexityBuckets(scored, "lang", "avg_lp")
          .join(docs.select(col("doc_id"), col("n_tok")), Seq("doc_id"))
          .withColumn("sk",
            concat(col("lang"), lit("_"), col("bucket")))
          .persist())
      val caps = bucketed.groupBy(col("sk"))
        .agg(min(col("bucket")).as("bucket"),
          sum(col("n_tok")).cast("long").as("c_tokens"))
        .withColumn("weight",
          when(col("bucket") === "head", 6.0)
            .when(col("bucket") === "middle", 3.0).otherwise(1.0))
      val alloc = graft.operators.Mixture.waterfill(caps, "sk",
        "c_tokens", "weight", budget = 6000.0)
      val sel = graft.operators.Mixture.selectByAllocations(
        bucketed, "doc_id", "sk", "n_tok", alloc)
      val cells = bucketed.groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("cell_tokens"))
      val sagg = sel.groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_sel"),
          sum(col("n_tok")).cast("long").as("sel_tokens"))
      cells.join(sagg, Seq("lang", "bucket"), "left")
        .na.fill(0L, Seq("n_sel", "sel_tokens"))
        .orderBy(col("lang"), col("bucket"))
    },
      HashOracles.q104CcnetSelection(6000.0, 64)),

    // Waterfill REALIZED: the q91 allocation actually picks documents —
    // per-source hash-bucket cumulation (bounded driver facts), whole
    // buckets below the cutoff, boundary bucket ranked by
    // (splitmix64(doc_id), doc_id) under the remaining budget. The doc
    // table is tokenized once (scoped cache) for capacity AND selection
    "q96_waterfill_selection" -> Query((s, dir) => {
      val docs = graft.CacheScope.register(T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(toks(col("text"))).cast("long").as("n_tok"))
        .persist())
      val perSource = docs.groupBy(col("source"))
        .agg(sum(col("n_tok")).cast("long").as("c_tokens"))
        .withColumn("weight",
          when(col("source").isin("src0", "src1"), 3.0).otherwise(1.0))
      val alloc = graft.operators.Mixture.waterfill(perSource, "source",
        "c_tokens", "weight", budget = 15000.0)
      graft.operators.Mixture
        .selectByAllocations(docs, "doc_id", "source", "n_tok", alloc)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sel"),
          sum(col("n_tok")).cast("long").as("sel_tokens"))
        .orderBy(col("source"))
    },
      HashOracles.q96WaterfillSelection(15000.0, 64)),

    // DSIR importance weighting (Xie et al. 2023): every raw doc
    // (doc_id >= 10) scored by how target-like (doc_id < 10, the
    // benchmark-slice convention) its hashed unigram+bigram feature
    // distribution is — the published importance-resampling data
    // selection. 512 FNV-1a buckets, add-1 smoothing; the per-bucket
    // llr table is broadcast BY CONSTRUCTION (bucket space is a config
    // bound, not corpus cardinality)
    "q115_dsir_weights" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.operators.Dsir.importanceWeights(
          docs.filter(col("doc_id") >= 10), "doc_id", "text",
          docs.filter(col("doc_id") < 10), "text",
          numBuckets = 512, alpha = 1.0)
        .select(col("doc_id"), col("n_feats"),
          round(col("log_w"), 4).as("log_w"))
        .orderBy(col("doc_id"))
    },
      HashOracles.q115DsirWeights(512, 1.0)),

    // Heaps'-law vocabulary-growth fit — q110's companion diagnostic:
    // V ≈ K·N^beta over integer halving-prefix checkpoints (each
    // token's FIRST document determines every checkpoint's vocabulary
    // in one pass — never a per-prefix distinct)
    "q116_heaps_fit" -> Query((s, dir) =>
      graft.operators.Keywords.heapsFit(
        T(s, dir, "documents"), "doc_id", "text"),
      // integer halving boundaries (maxId+1) >> j replay exactly; each
      // doc/token assigns to its smallest enclosing boundary, cumsums run
      // over the ~log2(corpus)-row boundary table
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |m AS (SELECT max(doc_id) + 1 AS mm FROM tk),
         |bs AS (SELECT DISTINCT mm >> j AS b FROM
         |  (SELECT mm, unnest(range(0, 63)) AS j FROM m)
         |  WHERE mm >> j >= 1),
         |da AS (SELECT doc_id, min(b) AS b FROM tk
         |  JOIN bs ON bs.b > tk.doc_id GROUP BY doc_id),
         |pb AS (SELECT da.b, sum(len(t)) AS tt FROM tk
         |  JOIN da USING (doc_id) GROUP BY da.b),
         |fd AS (SELECT w, min(doc_id) AS fdoc FROM
         |  (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY w),
         |fa AS (SELECT w, min(b) AS b FROM fd
         |  JOIN bs ON bs.b > fd.fdoc GROUP BY w),
         |vb AS (SELECT b, count(*) AS v FROM fa GROUP BY b),
         |cum AS (SELECT coalesce(pb.b, vb.b) AS b,
         |  coalesce(tt, 0) AS tt, coalesce(v, 0) AS v
         |  FROM pb FULL JOIN vb ON pb.b = vb.b),
         |cc AS (SELECT b, sum(tt) OVER (ORDER BY b) AS n_cum,
         |  sum(v) OVER (ORDER BY b) AS v_cum FROM cum),
         |p AS (SELECT ln(CAST(n_cum AS DOUBLE)) AS x,
         |  ln(CAST(v_cum AS DOUBLE)) AS y, n_cum, v_cum FROM cc
         |  WHERE n_cum > 0 AND v_cum > 0),
         |s AS (SELECT count(*) AS n, max(n_cum) AS nt, max(v_cum) AS nv,
         |  sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |  sum(x * x) AS sxx FROM p)
         |SELECT CAST(n AS BIGINT) AS n_points,
         |  CAST(coalesce(nt, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(nv, 0) AS BIGINT) AS n_vocab,
         |  CASE WHEN n < 2 THEN NULL ELSE
         |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
         |  END AS beta,
         |  CASE WHEN n < 2 THEN NULL ELSE
         |    round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
         |      / n, 4)
         |  END AS ln_k
         |FROM s""".stripMargin),

    // Classifier-based quality filtering (the GPT-3/PaLM recipe) in its
    // closed-form Naive-Bayes form: train on the deterministic 80%
    // hash split (label = English), score the held-out 20% — train and
    // predictions both replay engine-exactly (no iterative descent)
    "q117_nb_classifier" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("is_en", col("lang") === "en")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.QualityClassifier.train(
        docs.filter(split), "doc_id", "text", "is_en")
      graft.operators.QualityClassifier.score(
          docs.filter(!split), "doc_id", "text", model)
        .select(col("doc_id"), col("n_tokens"),
          round(col("score"), 4).as("score"), col("predicted"),
          col("is_en").as("actual"))
        .orderBy(col("doc_id"))
    },
      HashOracles.q117NbClassifier(8000, 1.0)),

    // Duplicate-passage REMOVAL (the rewrite form of span dedup): every
    // repeated verbatim 8-token tile beyond its first global occurrence
    // is deleted and the document text reassembled — the cleaned text
    // replays byte-exactly (md5 over the md5-able reassembly)
    "q118_tile_dedup_rewrite" -> Query((s, dir) =>
      graft.operators.SpanDedup.removeDuplicateTiles(
          T(s, dir, "documents"), "doc_id", "text", tileTokens = 8)
        .select(col("doc_id"), col("n_tiles"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id")),
      // non-overlapping 8-token tiles (last partial kept, empty tile of
      // an empty doc dropped); the global first occurrence by
      // (doc_id, tile_idx) survives, the reassembly is order-exact
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |tiles AS (SELECT doc_id, j AS tile_idx,
         |    array_to_string(t[j * 8 + 1 : j * 8 + 8], ' ') AS tile
         |  FROM (SELECT doc_id, t,
         |    unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS j
         |    FROM tk)
         |  WHERE array_to_string(t[j * 8 + 1 : j * 8 + 8], ' ') <> ''),
         |k AS (SELECT doc_id, tile_idx, tile, row_number() OVER
         |  (PARTITION BY tile ORDER BY doc_id, tile_idx) AS rn
         |  FROM tiles),
         |cleaned AS (SELECT doc_id, count(*) AS kept,
         |  string_agg(tile, ' ' ORDER BY tile_idx) AS clean
         |  FROM k WHERE rn = 1 GROUP BY doc_id),
         |totals AS (SELECT doc_id, count(*) AS n_tiles FROM tiles
         |  GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(t.n_tiles, 0) AS BIGINT)
         |    AS n_tiles,
         |  CAST(coalesce(t.n_tiles, 0) - coalesce(c.kept, 0) AS BIGINT)
         |    AS n_removed,
         |  md5(coalesce(c.clean, '')) AS clean_md5
         |FROM documents d LEFT JOIN totals t USING (doc_id)
         |LEFT JOIN cleaned c USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis):
    // 25 docs by n_chars weight — the exponential keys replay to the
    // double grid (exact 53-bit uniform construction, ln the only
    // libm call), so membership AND keys are oracle-checked
    "q119_weighted_sample" -> Query((s, dir) =>
      graft.operators.Sampling.weightedSampleWithoutReplacement(
          T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 25)
        .select(col("doc_id"), col("n_chars"),
          round(col("sample_key"), 6).as("sample_key"))
        .orderBy(col("doc_id")),
      HashOracles.q119WeightedSample(25)),

    // Capstone #7 — CLEAN-then-SELECT assembly, the round-9 operators
    // composed the way a production pipeline chains them: duplicate
    // passages removed (rewrite), a classifier gate trained on the
    // deterministic hash split of the CLEANED text, DSIR importance
    // weights of the accepted pool against the cleaned target slice,
    // top-50 selection, per-source accounting. Every stage replays in
    // the oracle end-to-end (text bytes, split, scores, weights)
    "q120_clean_select_pipeline" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val cleaned = graft.operators.SpanDedup.removeDuplicateTiles(
          docs, "doc_id", "text", tileTokens = 8)
        .select(col("doc_id"), col("lang"), col("source"),
          col("clean_text"))
      // tokenize-once: the cleaned text feeds THREE stages (train,
      // gate, DSIR) — materialize its token array in the scoped cache
      // so the regexp split runs one corpus pass, not three
      val withLabel = graft.CacheScope.register(
        cleaned.withColumn("is_en", col("lang") === "en")
          .withColumn("__cs_toks", toks(col("clean_text")))
          .persist())
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.QualityClassifier.train(
        withLabel.filter(split), "doc_id", "clean_text", "is_en",
        tokensCol = Some("__cs_toks"))
      val accepted = graft.operators.QualityClassifier.keepAccepted(
        withLabel, "doc_id", "clean_text", model,
        tokensCol = Some("__cs_toks"))
      graft.operators.Dsir.selectTopK(
          accepted.filter(col("doc_id") >= 10), "doc_id", "clean_text",
          withLabel.filter(col("doc_id") < 10), "clean_text",
          k = 50, numBuckets = 512, alpha = 1.0,
          tokensCol = Some("__cs_toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sel"),
          round(sum(col("log_w")), 4).as("sel_log_w"))
        .orderBy(col("source"))
    },
      HashOracles.q120CleanSelect(50, 512, 1.0, 8000)),

    // Count-min sketch (depth 4 × width 1024) over the corpus token
    // stream, point-queried for every vocabulary token against the
    // exact counts — the one-sided error (c_est >= c_true, overcount
    // visible per token) is itself oracle-replayed cell-for-cell
    "q121_countmin_tokens" -> Query((s, dir) => {
      val tok = graft.CacheScope.register(T(s, dir, "documents")
        .select(explode(toks(col("text"))).as("token")).persist())
      val cms = graft.operators.Sketches.countMinBuild(
        tok, "token", depth = 4, width = 1024)
      val truth = tok.groupBy(col("token"))
        .agg(count(lit(1)).as("c_true"))
      graft.operators.Sketches.countMinEstimate(
          truth, "token", cms, depth = 4, width = 1024)
        .join(truth, Seq("token"))
        .select(col("token"), col("c_true"), col("c_est"),
          (col("c_est") - col("c_true")).as("overcount"))
        .orderBy(col("token"))
    },
      HashOracles.q121CountMin(4, 1024)),

    // HyperLogLog distinct-token estimate (p=6, 64 registers) against
    // the exact count — registers, the integer checksum, AND the
    // small-range-corrected estimate all oracle-replay (the bit-length
    // comparison is literal-array integer arithmetic, never a float
    // log2)
    "q122_hll_distinct" -> Query((s, dir) => {
      val tok = graft.CacheScope.register(T(s, dir, "documents")
        .select(explode(toks(col("text"))).as("token")).persist())
      graft.operators.Sketches.hllEstimate(
          graft.operators.Sketches.hllRegisters(tok, "token", p = 6),
          p = 6)
        .crossJoin(
          tok.agg(countDistinct(col("token")).cast("long").as("n_true")))
    },
      HashOracles.q122Hll(6)),

    // Per-SOURCE HLL distinct-vocabulary profile — the grouped
    // deployment shape ("distinct vocab per source" in ONE pass, a
    // groupBy over the register table, never a per-group job), each
    // group's registers, checksum, and corrected estimate replayed
    // against its exact distinct count
    // PMI collocation extraction: top-25 adjacent-token bigrams by
    // pointwise mutual information (minCount 5 — the standard
    // hapax-noise floor), ranked on the rounded grid so the order
    // replays; the global top-k is a TakeOrdered, never a corpus sort
    "q124_pmi_collocations" -> Query((s, dir) =>
      graft.operators.Keywords.pmiTopBigrams(
        T(s, dir, "documents"), "doc_id", "text", k = 25, minCount = 5),
      // bigram/unigram counts + the scalar total; the top-25 orders on
      // the ROUNDED pmi with bigram tie-breaks so the LIMIT boundary
      // replays
      s"""WITH tk AS (SELECT $ToksSql AS t FROM documents),
         |bg AS (SELECT t[i + 1] AS a, t[i + 2] AS b FROM
         |  (SELECT t, unnest(range(0, len(t) - 1)) AS i FROM tk
         |   WHERE len(t) >= 2)),
         |bc AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b
         |  HAVING count(*) >= 5),
         |uni AS (SELECT w, count(*) AS c_w FROM
         |  (SELECT unnest(t) AS w FROM tk) GROUP BY w),
         |tt AS (SELECT count(*) AS T FROM bg)
         |SELECT a || ' ' || b AS bigram, c_ab, ua.c_w AS c_a,
         |  ub.c_w AS c_b,
         |  round(ln(c_ab * CAST(T AS DOUBLE)
         |    / (ua.c_w * CAST(ub.c_w AS DOUBLE))), 4) AS pmi
         |FROM bc JOIN uni ua ON bc.a = ua.w
         |JOIN uni ub ON bc.b = ub.w, tt
         |ORDER BY pmi DESC, bigram LIMIT 25""".stripMargin),

    "q123_hll_by_source" -> Query((s, dir) => {
      val tok = graft.CacheScope.register(T(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("token"))
        .persist())
      graft.operators.Sketches.hllEstimateBy(
          graft.operators.Sketches.hllRegistersBy(
            tok, "source", "token", p = 6),
          "source", p = 6)
        .join(tok.groupBy(col("source"))
          .agg(countDistinct(col("token")).cast("long").as("n_true")),
          Seq("source"))
        .orderBy(col("source"))
    },
      HashOracles.q123HllBySource(6)),

    // Sequence packing: concat-and-chunk the corpus (id order) into
    // 64-token training sequences — one (doc, sequence) span row per
    // overlap, all offsets integer-exact; the prefix sum is the
    // two-level bucketed device (never a global single-partition
    // window over the corpus)
    "q125_sequence_packing" -> Query((s, dir) =>
      graft.operators.Packing.packSequences(
          T(s, dir, "documents"), "doc_id", "text", seqLen = 64)
        .orderBy(col("seq_id"), col("doc_id")),
      // concat-and-chunk replay: the running token offset in id order
      // (window cumsum — the oracle may afford the global sort the
      // engine avoids), then each doc's overlapped sequences from pure
      // integer floor-division
      s"""WITH tk AS (SELECT doc_id, len($ToksSql) AS L FROM documents),
         |off AS (SELECT doc_id, L, CAST(coalesce(sum(L) OVER
         |    (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |     AND 1 PRECEDING), 0) AS BIGINT) AS o
         |  FROM tk WHERE L > 0),
         |sp AS (SELECT doc_id, L, o,
         |  unnest(range(o // 64, (o + L - 1) // 64 + 1)) AS seq_id
         |  FROM off)
         |SELECT doc_id, seq_id,
         |  greatest(o, seq_id * 64) - o AS doc_from,
         |  least(o + L, (seq_id + 1) * 64) - o AS doc_to,
         |  greatest(o, seq_id * 64) - seq_id * 64 AS seq_off
         |FROM sp ORDER BY seq_id, doc_id""".stripMargin),

    // Per-source doc-length quantile SKETCH: power-of-two histogram
    // (≤ 42 rows per source at any corpus size) read out at
    // p50/p90/p99 with integer ranks, each estimate audited against
    // the EXACT rank-th smallest value (the q122 n_true device; the
    // exact side is a per-source sort — audit-only, not the sketch's
    // deployment path)
    "q126_length_quantile_sketch" -> Query((s, dir) => {
      val v = graft.CacheScope.register(T(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(toks(col("text"))).cast("long").as("v"))
        .persist())
      val qs = graft.operators.Sketches.logHistQuantilesBy(
        graft.operators.Sketches.logHistBuildBy(v, "source", "v"),
        "source", Seq(50, 90, 99))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("v"), col("doc_id"))
      val ranked = v.select(col("source"), col("v").as("exact"),
        row_number().over(w).as("rank"))
      qs.join(ranked, Seq("source", "rank"))
        .select(col("source"), col("pct"), col("n_items"), col("rank"),
          col("bucket").cast("long").as("bucket"), col("est_hi"),
          col("exact"))
        .orderBy(col("source"), col("pct"))
    },
      // log-bucket histogram quantiles: bucket = exact bit length via
      // the literal-powers comparison count (the q122 device), integer
      // rank ceil(pct·n/100), est_hi = 2^bucket − 1, each audited
      // against the exact rank-th smallest value
      {
      val pows = (0 until 41).map(1L << _).mkString("[", ", ", "]")
      s"""WITH tk AS (SELECT doc_id, source, len($ToksSql) AS v
         |  FROM documents),
         |hist AS (SELECT source,
         |    len(list_filter($pows, q -> q <= v)) AS bucket,
         |    count(*) AS cnt FROM tk GROUP BY 1, 2),
         |n AS (SELECT source, sum(cnt) AS n_items FROM hist GROUP BY 1),
         |cum AS (SELECT source, bucket,
         |  sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum
         |  FROM hist),
         |pc AS (SELECT unnest([50, 90, 99]) AS pct),
         |r AS (SELECT n.source, pct, n_items,
         |  (pct * n_items + 99) // 100 AS rank FROM n CROSS JOIN pc),
         |sel AS (SELECT r.source, r.pct, r.n_items, r.rank,
         |    min(c.bucket) AS bucket
         |  FROM r JOIN cum c ON c.source = r.source AND c.cum >= r.rank
         |  GROUP BY 1, 2, 3, 4),
         |ex AS (SELECT source, v,
         |  row_number() OVER (PARTITION BY source ORDER BY v, doc_id)
         |    AS rn FROM tk)
         |SELECT s.source, s.pct, CAST(s.n_items AS BIGINT) AS n_items,
         |  CAST(s.rank AS BIGINT) AS rank, CAST(s.bucket AS BIGINT)
         |    AS bucket,
         |  (CAST(1 AS BIGINT) << s.bucket) - 1 AS est_hi,
         |  e.v AS exact
         |FROM sel s JOIN ex e ON e.source = s.source AND e.rn = s.rank
         |ORDER BY s.source, s.pct""".stripMargin
    }),

    // Product quantization end-to-end: per-subspace k-means codebooks
    // (16 × 4-dim subspaces, 16 centroids, 2 Lloyd updates — measured
    // recall@10 0.6 vs exact dot at a 16-byte code, the saturation
    // point of the param sweep on this near-random fixture) → m-int
    // codes → ADC top-10 for the vec_id-0 query — the scan reads ONLY
    // the code table, scoring by m literal-table lookups; the whole
    // train→encode→query chain replays in the oracle
    "q128_pq_adc_topk" -> Query((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val model = Similarity.trainPq(emb, "vec_id", "embedding",
        m = 16, k = 16, iters = 2)
      val qv = emb.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
      Similarity.pqAdcTopK(
        Similarity.pqEncode(emb, "vec_id", "embedding", model),
        "vec_id", qv, model, k = 10)
    },
      HashOracles.q128PqAdc(16, 16, 64, 10)),

    // IVF-PQ: the FAISS composition — deterministic-plane coarse lists
    // cut candidates to nProbe/nLists of the corpus, ADC reranks the
    // survivors by code-table lookups; probe choice is driver-side
    // over the plane matrix (literal isin → partition-prunable at
    // rest); train→assign→encode→probe→score replays in one oracle
    "q129_ivf_pq_topk" -> Query((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val model = Similarity.trainPq(emb, "vec_id", "embedding",
        m = 16, k = 16, iters = 2)
      val qv = emb.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
      val enc = Similarity.pqEncode(
        Similarity.assignLists(emb, "embedding", nLists = 16),
        "vec_id", "embedding", model)
      Similarity.ivfPqTopK(enc, "vec_id", qv, model, k = 10,
        nLists = 16, nProbe = 4)
    },
      HashOracles.q129IvfPq(16, 16, 64, 16, 4, 10)),

    // Persisted IVF-PQ: write the codes-only index + codebook sidecar
    // to disk, answer from the INDEX — the disk round-trip must be
    // semantically invisible, so the oracle is q129's in-memory replay
    // verbatim (the q109 fold precedent)
    "q130_ivf_pq_index_query" -> Query((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val model = Similarity.trainPq(emb, "vec_id", "embedding",
        m = 16, k = 16, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q130_ivfpq").getAbsolutePath
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", path,
        model, nLists = 16)
      val qv = emb.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
      Similarity.ivfPqTopKIndexed(s, path, qv, k = 10, nProbe = 4)
        .withColumnRenamed("id", "vec_id")
    },
      // disk round-trip must be invisible: q129's replay verbatim
      HashOracles.q129IvfPq(16, 16, 64, 16, 4, 10)),

    // Capstone #8: select-then-pack — the last mile of the training-
    // data story: budget the best-scoring docs to 20k tokens (q79's
    // two-phase selection), concat-and-chunk the survivors into
    // 128-token sequences, account per sequence (every sequence full
    // except the last — the shard-writer audit)
    "q131_select_and_pack" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("score", TF.qualityScore(col("text"), col("n_chars")))
        .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      val sel = graft.operators.CorpusSelection.selectByTokenBudget(
        docs, "doc_id", "score", "n_tokens", budget = 20000L)
      graft.operators.Packing.sequenceFill(
          graft.operators.Packing.packSequences(sel, "doc_id", "text",
            seqLen = 128))
        .orderBy(col("seq_id"))
    },
      HashOracles.q131SelectAndPack(
      s"""2 * ${hitsSql(TF.EnStop)}
         | + CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 5 ELSE 0 END
         | + CASE WHEN 20 * (length(text) -
         |     length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))) <= n_chars
         |   THEN 3 ELSE 0 END""".stripMargin,
      budget = 20000L, seqLen = 128)),

    // Packed-sequence payloads: the ACTUAL shard-writer output —
    // every 64-token sequence's token stream assembled from the span
    // table and gated byte-exactly via md5 (the q118 device); one
    // tokenize pass feeds both the offsets and the chunk slicing
    "q132_packed_payloads" -> Query((s, dir) =>
      graft.operators.Packing.packedSequenceTexts(
          T(s, dir, "documents"), "doc_id", "text", seqLen = 64)
        .select(col("seq_id"), col("n_tokens"),
          md5(concat_ws(" ", col("toks"))).as("seq_md5"))
        .orderBy(col("seq_id")),
      // q125's offset chain carrying the token lists; each sequence's
      // payload = its chunks stitched in seq_off order, md5 over the
      // space-joined stream (ASCII corpus: DuckDB md5(text) == Spark)
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |off AS (SELECT doc_id, t, len(t) AS L, CAST(coalesce(sum(len(t))
         |    OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |     AND 1 PRECEDING), 0) AS BIGINT) AS o
         |  FROM tk WHERE len(t) > 0),
         |sp AS (SELECT doc_id, t, L, o,
         |  unnest(range(o // 64, (o + L - 1) // 64 + 1)) AS seq_id
         |  FROM off),
         |ch AS (SELECT seq_id,
         |  greatest(o, seq_id * 64) - seq_id * 64 AS seq_off,
         |  least(o + L, (seq_id + 1) * 64) - greatest(o, seq_id * 64)
         |    AS n,
         |  array_to_string(t[greatest(o, seq_id * 64) - o + 1 :
         |    least(o + L, (seq_id + 1) * 64) - o], ' ') AS chunk
         |  FROM sp)
         |SELECT seq_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  md5(string_agg(chunk, ' ' ORDER BY seq_off)) AS seq_md5
         |FROM ch GROUP BY seq_id ORDER BY seq_id""".stripMargin),

    // Group-aware packing: language-pure 64-token sequences — packing
    // runs independently inside each lang (sequences never mix
    // languages, seq_id counts per group); the bucket-table cumsum
    // partitions BY GROUP, parallel across groups
    "q133_grouped_packing" -> Query((s, dir) =>
      graft.operators.Packing.packSequencesBy(
          T(s, dir, "documents"), "doc_id", "lang", "text", seqLen = 64)
        .orderBy(col("lang"), col("seq_id"), col("doc_id")),
      // q125's replay with every window/offset PARTITIONED BY lang
      s"""WITH tk AS (SELECT doc_id, lang, len($ToksSql) AS L
         |  FROM documents),
         |off AS (SELECT doc_id, lang, L, CAST(coalesce(sum(L) OVER
         |    (PARTITION BY lang ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS o
         |  FROM tk WHERE L > 0),
         |sp AS (SELECT doc_id, lang, L, o,
         |  unnest(range(o // 64, (o + L - 1) // 64 + 1)) AS seq_id
         |  FROM off)
         |SELECT lang, doc_id, seq_id,
         |  greatest(o, seq_id * 64) - o AS doc_from,
         |  least(o + L, (seq_id + 1) * 64) - o AS doc_to,
         |  greatest(o, seq_id * 64) - seq_id * 64 AS seq_off
         |FROM sp ORDER BY lang, seq_id, doc_id""".stripMargin),

    // Quality-aware canonical re-election over the q51 dedup clusters:
    // the LONGEST member of each multi-member cluster survives (ties
    // on id) — the FineWeb keep rule replacing min-id retention; one
    // component-partitioned window, never a corpus-scale partition
    "q127_keep_best_dedup" -> Query((s, dir) => {
      val clustered = Dedup.dedupCorpus(
        T(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", threshold = 0.9)
      Dedup.electCanonicalByScore(clustered, "doc_id", "component",
          "n_chars")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("is_canonical"), col("doc_id"))).as("keep_id"),
          max(when(col("is_canonical"), col("n_chars")))
            .as("keep_chars"))
        .filter(col("n_members") > 1)
        .orderBy(col("component"))
    },
      HashOracles.q127KeepBestDedup),

    // Gopher repetition suite (Rae et al. 2021 A1.1): top-bigram char
    // fraction, duplicated-bigram char COVERAGE (each position counted
    // once), mean word length, alpha-word fraction, symbol ratio —
    // plus the first-failing-rule verdict; one tokenize pass, every
    // shuffle on per-document keys
    "q134_gopher_quality" -> Query((s, dir) =>
      graft.operators.Repetition.annotateGopher(
          T(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("tot_chars"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("alpha_word_frac"), 6).as("alpha_word_frac"),
          round(col("symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("top_ngram_char_frac"), 6).as("top_ngram_char_frac"),
          round(col("dup_ngram_char_frac"), 6).as("dup_ngram_char_frac"),
          col("drop_reason"))
        .orderBy(col("doc_id")),
      // Gopher suite replay: gram char mass = len(gram) - (n-1)
      // separators; coverage via DISTINCT (doc, position); top-gram tie
      // order (cnt, charlen, gram) DESC mirrors the struct-max; the
      // 0-word/0-char NULL guards mirror the engine (q110 precedent)
      s"""WITH $GopherCtes
         |SELECT doc_id, n_words, tot_chars,
         |  round(mwl, 6) AS mean_word_len,
         |  round(awf, 6) AS alpha_word_frac,
         |  round(swr, 6) AS symbol_word_ratio,
         |  round(tf, 6) AS top_ngram_char_frac,
         |  round(df, 6) AS dup_ngram_char_frac,
         |  $GopherDropSql AS drop_reason
         |FROM m ORDER BY doc_id""".stripMargin),

    // Per-source token-distribution divergence vs the rest of the
    // corpus: add-α smoothed KL and Jensen–Shannon over the union
    // vocabulary — the mixture-design / scrape-drift diagnostic; zero
    // rows come from vocab × the bounded broadcast group table, totals
    // flow as one-row broadcast frames (no driver scalar)
    "q135_source_divergence" -> Query((s, dir) =>
      graft.operators.Divergence.tokenDivergenceBy(
          T(s, dir, "documents"), "source", "text")
        .orderBy(col("source")),
      // smoothed-KL/JS replay: p over the group's counts, q over the
      // complement (global minus group), both add-0.5 over the union
      // vocabulary; sums land on the 1e-4 grid (reassociation-safe)
      s"""WITH tok AS (SELECT source, unnest($ToksSql) AS token
         |  FROM documents),
         |cnt AS (SELECT source, token, count(*) AS c
         |  FROM tok GROUP BY 1, 2),
         |gt AS (SELECT source, CAST(sum(c) AS BIGINT) AS ng,
         |  count(*) AS vg FROM cnt GROUP BY 1),
         |gl AS (SELECT token, CAST(sum(c) AS BIGINT) AS cg
         |  FROM cnt GROUP BY 1),
         |tot AS (SELECT CAST(sum(cg) AS BIGINT) AS n, count(*) AS v
         |  FROM gl),
         |r AS (SELECT gt.source, gt.ng, gt.vg, tot.n, tot.v,
         |  gl.cg, coalesce(cnt.c, 0) AS c
         |  FROM gl CROSS JOIN tot CROSS JOIN gt
         |    LEFT JOIN cnt ON cnt.source = gt.source
         |      AND cnt.token = gl.token),
         |t AS (SELECT source, ng, vg,
         |  (c + 0.5) / (ng + 0.5 * v) AS p,
         |  (cg - c + 0.5) / (n - ng + 0.5 * v) AS q
         |  FROM r)
         |SELECT source, ng AS n_tokens, CAST(vg AS BIGINT) AS n_vocab,
         |  round(sum(p * ln(p / q)), 4) AS kl_vs_rest,
         |  round(sum((p * ln(2 * p / (p + q))
         |    + q * ln(2 * q / (p + q))) / 2), 4) AS js_vs_rest
         |FROM t GROUP BY source, ng, vg ORDER BY source""".stripMargin),

    // Token-balanced sharding: serpentine deal over the (tokens DESC,
    // id) rank — equal-WORK export shards, not equal-count; the rank
    // is the two-level bucketed device (exact: the id sub-bucket only
    // splits weight ties), per-shard totals are the audit
    "q136_balanced_shards" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      graft.operators.Sharding.shardProfile(
          graft.operators.Sharding.assignBalancedShards(
            docs, "doc_id", "n_tokens", nShards = 8),
          "n_tokens")
        .orderBy(col("shard"))
    },
      // serpentine replay: pass parity flips the deal direction
      s"""WITH w AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS w
         |  FROM documents),
         |r AS (SELECT doc_id, w,
         |  row_number() OVER (ORDER BY w DESC, doc_id) AS rank FROM w),
         |a AS (SELECT w, CAST((rank - 1) % 8 AS INT) AS pos,
         |  (rank - 1) // 8 AS pass FROM r)
         |SELECT CASE WHEN pass % 2 = 0 THEN pos ELSE 7 - pos END
         |    AS shard,
         |  count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS total_weight
         |FROM a GROUP BY 1 ORDER BY shard""".stripMargin),

    // Reciprocal Rank Fusion (Cormack et al. 2009) over three
    // incomparable quality signals — heuristic score, NB-classifier
    // logit (q117's model scoring ALL docs), bigram-LM fluency
    // (q100's model) — each competition-ranked on its bounded score
    // histogram, fused Σ 1/(60 + r), consensus top-50
    "q137_rank_fusion" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val heur = docs.select(col("doc_id"),
        TF.qualityScore(col("text"), col("n_chars")).as("score"))
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val nbModel = graft.operators.QualityClassifier.train(
        docs.withColumn("is_en", col("lang") === "en").filter(split),
        "doc_id", "text", "is_en")
      val nb = graft.operators.QualityClassifier
        .score(docs, "doc_id", "text", nbModel)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
      val lm = graft.operators.NgramLm.train(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      val lmScored = graft.operators.NgramLm
        .logProbScore(docs, "doc_id", "text", lm)
        .select(col("doc_id"), col("avg_lp").as("score"))
      graft.operators.RankFusion.reciprocalRankFusion(
          Seq("heur" -> heur, "nb" -> nb, "lm" -> lmScored),
          "doc_id", k = 60)
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(50)
    },
      HashOracles.q137RankFusion(
      trainBuckets = 8000, nbAlpha = 1.0, lmSplit = 250, lmAlpha = 0.4,
      k = 60, topK = 50,
      heurSql = s"""2 * ${hitsSql(TF.EnStop)}
        | + CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 5 ELSE 0 END
        | + CASE WHEN 20 * (length(text) -
        |     length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))) <= n_chars
        |   THEN 3 ELSE 0 END""".stripMargin)),

    // Moore–Lewis cross-entropy difference selection (Moore & Lewis
    // 2010): score each candidate by ln-prob under an IN-DOMAIN LM
    // minus ln-prob under a GENERAL LM trained on the same reference
    // slice — the classic "select data that looks like my domain, not
    // just data that looks like language" recipe; top-50 is a heap
    "q138_moore_lewis" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val ref = docs.filter(col("doc_id") < 250)
      val lmIn = graft.operators.NgramLm.train(
        ref.filter(col("lang") === "en"), "doc_id", "text")
      val lmGen = graft.operators.NgramLm.train(ref, "doc_id", "text")
      val cand = docs.filter(col("doc_id") >= 250)
      val sIn = graft.operators.NgramLm
        .logProbScore(cand, "doc_id", "text", lmIn)
        .select(col("doc_id"), col("avg_lp").as("lp_in"))
      val sGen = graft.operators.NgramLm
        .logProbScore(cand, "doc_id", "text", lmGen)
        .select(col("doc_id"), col("avg_lp").as("lp_gen"))
      sIn.join(sGen, Seq("doc_id"))
        .join(cand.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("ce_diff", round(col("lp_in") - col("lp_gen"), 4))
        .orderBy(col("ce_diff").desc, col("doc_id"))
        .limit(50)
    },
      // the q100 bigram replay TWICE (in-domain = en slice of the
      // reference, general = whole reference), per-doc rounded averages
      // subtracted — both LMs share the candidate gram table
      s"""WITH tok AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
         |ref AS (SELECT * FROM tok WHERE doc_id < 250),
         |refin AS (SELECT * FROM ref WHERE lang = 'en'),
         |cand AS (SELECT * FROM tok WHERE doc_id >= 250),
         |uin AS (SELECT w AS l, count(*) AS c1 FROM
         |  (SELECT unnest(t) AS w FROM refin) GROUP BY w),
         |vin AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM uin),
         |bin_ AS (SELECT l, r, count(*) AS c2 FROM
         |  (SELECT t[j] AS l, t[j + 1] AS r FROM
         |    (SELECT t, unnest(range(1, len(t))) AS j FROM refin))
         |  GROUP BY l, r),
         |ugen AS (SELECT w AS l, count(*) AS c1 FROM
         |  (SELECT unnest(t) AS w FROM ref) GROUP BY w),
         |vgen AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM ugen),
         |bgen AS (SELECT l, r, count(*) AS c2 FROM
         |  (SELECT t[j] AS l, t[j + 1] AS r FROM
         |    (SELECT t, unnest(range(1, len(t))) AS j FROM ref))
         |  GROUP BY l, r),
         |cp AS (SELECT doc_id, t[j] AS l, t[j + 1] AS r FROM
         |  (SELECT doc_id, t, unnest(range(1, len(t))) AS j FROM cand)),
         |sin AS (SELECT p.doc_id, round(avg(
         |  ln((coalesce(b.c2, 0) + 0.4) /
         |     (coalesce(u.c1, 0) + 0.4 * vin.vs))), 4) AS lp_in
         |  FROM cp p
         |  LEFT JOIN bin_ b ON b.l = p.l AND b.r = p.r
         |  LEFT JOIN uin u ON u.l = p.l CROSS JOIN vin
         |  GROUP BY p.doc_id),
         |sgen AS (SELECT p.doc_id, round(avg(
         |  ln((coalesce(b.c2, 0) + 0.4) /
         |     (coalesce(u.c1, 0) + 0.4 * vgen.vs))), 4) AS lp_gen
         |  FROM cp p
         |  LEFT JOIN bgen b ON b.l = p.l AND b.r = p.r
         |  LEFT JOIN ugen u ON u.l = p.l CROSS JOIN vgen
         |  GROUP BY p.doc_id)
         |SELECT s1.doc_id, s1.lp_in, s2.lp_gen, c.lang,
         |  round(s1.lp_in - s2.lp_gen, 4) AS ce_diff
         |FROM sin s1 JOIN sgen s2 USING (doc_id)
         |  JOIN (SELECT doc_id, lang FROM cand) c USING (doc_id)
         |ORDER BY ce_diff DESC, doc_id LIMIT 50""".stripMargin),

    // Soft dedup: duplicates stay but at weight 1/|cluster| — per
    // source, EFFECTIVE token mass (what training actually sees) vs
    // raw token mass; the over-scraped source is the one whose
    // effective mass collapses
    "q139_soft_dedup_mass" -> Query((s, dir) => {
      val clustered = Dedup.dedupCorpus(
        T(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", threshold = 0.9)
      Dedup.softDedupWeights(clustered, "component")
        .withColumn("n_toks", size(toks(col("text"))).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("raw_tokens"),
          round(sum(col("soft_weight") * col("n_toks")), 4)
            .as("effective_tokens"))
        .orderBy(col("source"))
    },
      HashOracles.q139SoftDedupMass),

    // Tokenizer efficiency per language: the trained merges compress
    // each language differently — tokens-per-word after encoding (the
    // fertility analogue for this word-symbol BPE; closer to 1 = the
    // language the tokenizer serves worst) and the merged-symbol
    // fraction; one tokenize pass feeds train, encode, and the word
    // counts
    "q140_tokenizer_fertility" -> Query((s, dir) => {
      val docs = graft.CacheScope.register(T(s, dir, "documents")
        .withColumn("__tk", toks(col("text"))).persist())
      val merges = graft.operators.TokenizerTraining.trainMerges(
        docs, "doc_id", "text", rounds = 8, minCount = 1,
        tokensCol = Some("__tk"), checkpointEvery = 3)
      graft.operators.TokenizerTraining
        .encode(docs, "doc_id", "text", merges,
          tokensCol = Some("__tk"))
        .select(col("lang"),
          size(col("__tk")).cast("long").as("nw"),
          size(col("encoded")).cast("long").as("nsub"),
          size(filter(col("encoded"), x => x.contains(" ")))
            .cast("long").as("nm"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"),
          sum(col("nsub")).as("n_bpe_tokens"),
          round(sum(col("nsub")).cast("double") / sum(col("nw")), 4)
            .as("tokens_per_word"),
          round(sum(col("nm")).cast("double") / sum(col("nsub")), 4)
            .as("merged_frac"))
        .orderBy(col("lang"))
    },
      HashOracles.q140TokenizerFertility(8)),

    // As-of join (attribution form): each purchase matched to the
    // user's most recent at-or-before click — union + keyed window
    // carrying the last-seen right payload, ONE shuffle, no join node;
    // the oracle is DuckDB's native ASOF JOIN, a fully independent
    // implementation of the same semantics
    "q141_asof_attribution" -> Query((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOfJoin.asOfBackward(purchases, clicks,
          "user_id", "ts", rightPayload = Seq("event_id", "ts"),
          prefix = "click_")
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_event_id"),
          graft.operators.AsOfJoin.gapMicros(col("ts"), col("click_ts"))
            .as("micros_since_click"))
        .orderBy(col("event_id"))
    },
      // DuckDB's native ASOF JOIN: an independent implementation of the
      // backward inclusive (>=) semantics
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS cid, user_id, ts AS cts FROM events
        |  WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.value,
        |  c.cid AS click_event_id,
        |  CAST(epoch_us(p.ts) - epoch_us(c.cts) AS BIGINT)
        |    AS micros_since_click
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.cts
        |ORDER BY p.event_id""".stripMargin),

    // Range join (incident-window form): each click counted against
    // the 10-minute incident windows opened by error events —
    // bucketized granule equi-join + exact containment filter, never
    // the O(points x intervals) nested loop; the oracle is DuckDB's
    // plain inequality join
    "q142_range_join_incidents" -> Query((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"))
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
      graft.operators.RangeJoin.countingIntervalJoin(
          clicks, "event_id", "ts", incidents, "w_start", "w_end",
          bucketMicros = 600L * 1000000)
        .select(col("event_id"), col("n_matches"))
        .orderBy(col("event_id"))
    },
      // the naive inequality join IS the oracle (capped corpus); the
      // engine's granule device must be invisible
      """WITH c AS (SELECT event_id, ts FROM events
        |  WHERE event_type = 'click'),
        |i AS (SELECT ts AS ws, ts + INTERVAL 10 MINUTE AS we
        |  FROM events WHERE event_type = 'error')
        |SELECT c.event_id,
        |  CAST(count(i.ws) AS BIGINT) AS n_matches
        |FROM c LEFT JOIN i ON c.ts >= i.ws AND c.ts < i.we
        |GROUP BY c.event_id ORDER BY c.event_id""".stripMargin),

    // Capstone #9: curate-and-shard with the round-9 operator family —
    // Gopher repetition gate -> Moore-Lewis CE-difference ranking of
    // the survivors -> top-150 -> token-balanced serpentine shards;
    // per-shard accounting (docs, token mass, deepest rank) replays
    // the whole chain
    "q143_curate_and_shard" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val kept = graft.operators.Repetition
        .annotateGopher(docs, "doc_id", "text")
        .filter(col("drop_reason").isNull)
        .select(col("doc_id"))
      // three consumers (two LM scorings + the token-count join) —
      // without the cache each re-runs the whole Gopher gram chain
      // (measured 4.8 s -> 2.9 s at sf0.1)
      val cand = graft.CacheScope.register(
        docs.join(kept, Seq("doc_id")).persist())
      val ref = docs.filter(col("doc_id") < 250)
      val lmIn = graft.operators.NgramLm.train(
        ref.filter(col("lang") === "en"), "doc_id", "text")
      val lmGen = graft.operators.NgramLm.train(ref, "doc_id", "text")
      val sIn = graft.operators.NgramLm
        .logProbScore(cand, "doc_id", "text", lmIn)
        .select(col("doc_id"), col("avg_lp").as("lp_in"))
      val sGen = graft.operators.NgramLm
        .logProbScore(cand, "doc_id", "text", lmGen)
        .select(col("doc_id"), col("avg_lp").as("lp_gen"))
      val sel = sIn.join(sGen, Seq("doc_id"))
        .withColumn("ce_diff", round(col("lp_in") - col("lp_gen"), 4))
        .orderBy(col("ce_diff").desc, col("doc_id"))
        .limit(150)
        .join(cand.select(col("doc_id"),
          size(toks(col("text"))).cast("long").as("n_tokens")),
          Seq("doc_id"))
      graft.operators.Sharding.assignBalancedShards(
          sel, "doc_id", "n_tokens", nShards = 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          max(col("rank")).as("max_rank"))
        .orderBy(col("shard"))
    },
      // capstone replay: Gopher keep -> the q138 two-LM chain over the
      // kept docs -> top-150 -> the q136 serpentine deal at 4 shards
      s"""WITH $GopherCtes,
         |keep AS (SELECT doc_id FROM m WHERE $GopherDropSql IS NULL),
         |dl AS (SELECT doc_id, lang FROM documents),
         |ref AS (SELECT tk.doc_id, tk.t FROM tk
         |  WHERE tk.doc_id < 250),
         |refin AS (SELECT tk.doc_id, tk.t FROM tk JOIN dl USING (doc_id)
         |  WHERE tk.doc_id < 250 AND dl.lang = 'en'),
         |cand AS (SELECT tk.doc_id, tk.t FROM tk JOIN keep USING (doc_id)),
         |uin AS (SELECT w AS l, count(*) AS c1 FROM
         |  (SELECT unnest(t) AS w FROM refin) GROUP BY w),
         |vin AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM uin),
         |bin_ AS (SELECT l, r, count(*) AS c2 FROM
         |  (SELECT t[j] AS l, t[j + 1] AS r FROM
         |    (SELECT t, unnest(range(1, len(t))) AS j FROM refin))
         |  GROUP BY l, r),
         |ugen AS (SELECT w AS l, count(*) AS c1 FROM
         |  (SELECT unnest(t) AS w FROM ref) GROUP BY w),
         |vgen AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM ugen),
         |bgen AS (SELECT l, r, count(*) AS c2 FROM
         |  (SELECT t[j] AS l, t[j + 1] AS r FROM
         |    (SELECT t, unnest(range(1, len(t))) AS j FROM ref))
         |  GROUP BY l, r),
         |cp AS (SELECT doc_id, t[j] AS l, t[j + 1] AS r FROM
         |  (SELECT doc_id, t, unnest(range(1, len(t))) AS j FROM cand)),
         |sin AS (SELECT p.doc_id, round(avg(
         |  ln((coalesce(b.c2, 0) + 0.4) /
         |     (coalesce(u.c1, 0) + 0.4 * vin.vs))), 4) AS lp_in
         |  FROM cp p
         |  LEFT JOIN bin_ b ON b.l = p.l AND b.r = p.r
         |  LEFT JOIN uin u ON u.l = p.l CROSS JOIN vin
         |  GROUP BY p.doc_id),
         |sgen AS (SELECT p.doc_id, round(avg(
         |  ln((coalesce(b.c2, 0) + 0.4) /
         |     (coalesce(u.c1, 0) + 0.4 * vgen.vs))), 4) AS lp_gen
         |  FROM cp p
         |  LEFT JOIN bgen b ON b.l = p.l AND b.r = p.r
         |  LEFT JOIN ugen u ON u.l = p.l CROSS JOIN vgen
         |  GROUP BY p.doc_id),
         |sel AS (SELECT s1.doc_id FROM sin s1 JOIN sgen s2 USING (doc_id)
         |  ORDER BY round(s1.lp_in - s2.lp_gen, 4) DESC, doc_id
         |  LIMIT 150),
         |wt AS (SELECT s.doc_id, len(tk.t) AS w FROM sel s
         |  JOIN tk USING (doc_id)),
         |r AS (SELECT doc_id, w,
         |  row_number() OVER (ORDER BY w DESC, doc_id) AS rank FROM wt),
         |a AS (SELECT w, rank, CAST((rank - 1) % 4 AS INT) AS pos,
         |  (rank - 1) // 4 AS pass FROM r)
         |SELECT CASE WHEN pass % 2 = 0 THEN pos ELSE 3 - pos END
         |    AS shard,
         |  count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS total_tokens,
         |  CAST(max(rank) AS BIGINT) AS max_rank
         |FROM a GROUP BY 1 ORDER BY shard""".stripMargin),

    // Blocked fuzzy record linkage: each customer's single strongest
    // fuzzy match (Jaro-Winkler >= 0.9, codegen'd graft_jaro_winkler
    // expression) among candidates sharing the 15-char name prefix
    // block. The only shuffle is the blocking equi-join; the similarity
    // runs once per candidate pair inside whole-stage codegen. Gated
    // against DuckDB's NATIVE jaro_winkler_similarity.
    "q144_fuzzy_linkage" -> Query((s, dir) =>
      graft.operators.RecordLinkage.bestLinks(
          T(s, dir, "customer"), "c_custkey", "c_name",
          // suffix blocking: these synthetic names share a constant
          // 15-char prefix, so PREFIX blocks are 1000-row monsters
          // (7.5M JW pairs at sf0.1); the last 2 chars spread the
          // same rows over ~100 tight blocks
          name => substring(name, -2, 2), minSim = 0.9)
        .orderBy(col("c_custkey")),
      // DuckDB's jaro_winkler_similarity IS the classic Winkler definition
      // the graft expression implements (boost threshold 0.7, prefix cap 4,
      // p=0.1, either-empty -> 0.0) — verified equivalent on 3000 random
      // string pairs in JaroWinklerSpec; rank on the rounded grid with
      // match_id as the total tie-break so the argmax replays
      """WITH e AS (SELECT c_custkey AS id, c_name AS name,
        |  substr(c_name, length(c_name) - 1, 2) AS blk FROM customer),
        |p AS (SELECT a.id, b.id AS match_id,
        |  round(jaro_winkler_similarity(a.name, b.name), 4) AS jw
        |  FROM e a JOIN e b ON a.blk = b.blk AND a.id <> b.id
        |  WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9),
        |r AS (SELECT id, match_id, jw, row_number() OVER
        |  (PARTITION BY id ORDER BY jw DESC, match_id) AS rn FROM p)
        |SELECT id AS c_custkey, match_id, jw FROM r WHERE rn = 1
        |ORDER BY c_custkey""".stripMargin),

    // Robust per-source length profile: exact median + MAD + the
    // Iglewicz-Hoaglin modified z-score, outliers at |z| > 2.0 (this
    // corpus's max |z| is ~2.97 — 3.5 flags nothing at any SF). Group
    // stats are one row per source -> both join-backs broadcast; the
    // row table is never shuffled on the row grain.
    "q145_robust_outliers" -> Query((s, dir) =>
      graft.operators.Robust.madProfile(
          T(s, dir, "documents"), "source", "n_chars", cutoff = 2.0)
        .orderBy(col("source")),
      // quantile_cont is the same linear-interpolated percentile Spark's
      // exact `percentile` computes; the mean-AD fallback branch is dead
      // on this data (every source has MAD > 0) so no float-sum-order
      // divergence is reachable
      """WITH med AS (SELECT source,
        |  quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
        |  FROM documents GROUP BY source),
        |d AS (SELECT d.source, CAST(n_chars AS DOUBLE) AS x, med
        |  FROM documents d JOIN med USING (source)),
        |sp AS (SELECT source, quantile_cont(abs(x - med), 0.5) AS mad,
        |  avg(abs(x - med)) AS mean_ad FROM d GROUP BY source),
        |z AS (SELECT d.source, d.med, sp.mad,
        |  CASE WHEN sp.mad > 0 THEN 0.6745 * (x - d.med) / sp.mad
        |       WHEN sp.mean_ad > 0
        |         THEN (x - d.med) / (1.253314 * sp.mean_ad)
        |  END AS mod_z
        |  FROM d JOIN sp USING (source))
        |SELECT source, count(*) AS n_rows, round(max(med), 4) AS med,
        |  round(max(mad), 4) AS mad,
        |  CAST(coalesce(sum(CASE WHEN abs(mod_z) > 2.0 THEN 1 ELSE 0 END),
        |    0) AS BIGINT) AS n_outliers,
        |  round(max(abs(mod_z)), 4) AS max_abs_z
        |FROM z GROUP BY source ORDER BY source""".stripMargin),

    // S×S source-vocabulary overlap by HLL inclusion-exclusion over
    // per-source TRIGRAM vocabularies (unigram vocab is 31 words — only
    // the 16k-trigram space has pairwise structure). Raw grams are
    // touched once (register build); all 190 pairs are computed on the
    // ≤ sources×64 register table. The exact intersection count rides
    // along as the gate column.
    "q146_hll_overlap_matrix" -> Query((s, dir) => {
      val grams = graft.CacheScope.register(T(s, dir, "documents")
        .select(col("source"),
          explode(TF.shinglesOf(toks(col("text")), 3)).as("gram"))
        .distinct().persist())
      val matrix = graft.operators.Sketches
        .hllOverlapMatrix(grams, "source", "gram", p = 6)
      val exact = grams.select(col("source").as("a"), col("gram"))
        .join(grams.select(col("source").as("b"), col("gram")), Seq("gram"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("true_overlap"))
      matrix.join(exact, Seq("a", "b"), "left")
        .withColumn("true_overlap",
          coalesce(col("true_overlap"), lit(0L)))
        .orderBy(col("a"), col("b"))
    },
      HashOracles.q146HllOverlap(6)),

    // Deterministic train/val/test assignment (8000/1000/1000 on the
    // splitmix 10000-bucket grid) with per-(source, split) doc and
    // token accounting — assignment is a pure function of the doc id,
    // so no re-partition/append can migrate a doc across splits. One
    // narrow scan + one partial-aggregating groupBy.
    "q147_hash_split" -> Query((s, dir) =>
      graft.operators.Sampling.assignSplit(T(s, dir, "documents"),
          "doc_id", Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks(col("text"))).cast("long")).as("n_tokens"))
        .orderBy(col("source"), col("split")),
      HashOracles.q147HashSplit),

    // Per-source lexical diversity: unigram and trigram type-token
    // ratios side by side — the cheap Self-BLEU stand-in; a trigram TTR
    // collapsing while unigram TTR holds marks template spam per-doc
    // dedup misses. Two partial-aggregating groupBys, no row shuffle.
    "q148_lexical_diversity" -> Query((s, dir) =>
      graft.operators.Novelty.typeTokenProfile(
          T(s, dir, "documents"), "source", "text", n = 3)
        .orderBy(col("source")),
      // unigram TTR + trigram TTR per source; CAST before the divide (an
      // integer / integer would truncate on the DuckDB side), whole-doc
      // fallback mirrored from ngramsOf
      s"""WITH tk AS (SELECT source, $ToksSql AS t FROM documents),
         |uni AS (SELECT source, count(*) AS n_tokens,
         |  count(DISTINCT w) AS n_types FROM
         |  (SELECT source, unnest(t) AS w FROM tk) GROUP BY source),
         |g AS (SELECT source, unnest(CASE WHEN len(t) >= 3
         |  THEN list_transform(range(0, len(t) - 2),
         |    i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
         |  ELSE [array_to_string(t, ' ')] END) AS g FROM tk),
         |gg AS (SELECT source, count(*) AS n_grams,
         |  count(DISTINCT g) AS n_gram_types FROM g GROUP BY source)
         |SELECT source, n_tokens, n_types,
         |  round(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr_uni,
         |  n_grams, n_gram_types,
         |  round(CAST(n_gram_types AS DOUBLE) / n_grams, 4) AS ttr_gram
         |FROM uni JOIN gg USING (source) ORDER BY source""".stripMargin),

    // Sparse TF-IDF cosine top-25 pairs: AllPairs-style DF-capped
    // candidate generation over the trigram inverted index (a gram
    // shared by > 20 docs generates no candidates — it would fan out
    // quadratically while carrying near-zero IDF), then EXACT cosine
    // over all shared grams for the survivors.
    "q149_sparse_cosine_topk" -> Query((s, dir) =>
      graft.operators.SparseSimilarity.cosineTopK(
        T(s, dir, "documents"), "doc_id", "text",
        n = 3, dfCap = 20, k = 25),
      // same DF-capped candidate generation, same exact verify over ALL
      // shared grams; rank on the rounded grid with (a, b) tie-breaks so
      // the LIMIT boundary replays
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |gr AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
         |  THEN list_transform(range(0, len(t) - 2),
         |    i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
         |  ELSE [array_to_string(t, ' ')] END) AS gram FROM tk),
         |tf AS (SELECT doc_id, gram, count(*) AS tf FROM gr
         |  GROUP BY doc_id, gram),
         |dfq AS (SELECT gram, count(*) AS df FROM tf GROUP BY gram),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |v AS (SELECT doc_id, gram, df,
         |  tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
         |  FROM tf JOIN dfq USING (gram), nd),
         |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM v
         |  GROUP BY doc_id),
         |rare AS (SELECT doc_id, gram FROM v WHERE df <= 20),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM rare a JOIN rare b USING (gram) WHERE a.doc_id < b.doc_id),
         |dt AS (SELECT c.a, c.b, count(*) AS n_shared,
         |  sum(va.w * vb.w) AS dot FROM cand c
         |  JOIN v va ON va.doc_id = c.a
         |  JOIN v vb ON vb.doc_id = c.b AND vb.gram = va.gram
         |  GROUP BY c.a, c.b)
         |SELECT dt.a, dt.b, n_shared,
         |  round(dot / (na.nrm * nb.nrm), 4) AS cosine
         |FROM dt JOIN nrm na ON na.doc_id = dt.a
         |JOIN nrm nb ON nb.doc_id = dt.b
         |ORDER BY cosine DESC, dt.a, dt.b LIMIT 25""".stripMargin),

    // Margin-based duplicate mining over embeddings (the ratio-margin
    // criterion): each vector's best partner by
    // cos / ((avgK(x) + avgK(y)) / 2), k = 8 — margin > 1 means
    // "closer than your usual neighborhood", comparable across dense
    // and sparse regions alike. Exact all-pairs baseline; the IVF
    // composition bounds the pair space at the billion-vector grain.
    "q150_margin_mining" -> Query((s, dir) =>
      graft.operators.Similarity.marginTopMatches(
          T(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .orderBy(col("x")),
      // neighbor sets selected on the rounded-cosine grid (y tie-break)
      // exactly as the engine; avgK then averages the raw cosines of that
      // set; list_cosine_similarity is the q22-precedent cosine fragment
      s"""WITH p AS (SELECT a.vec_id AS x, b.vec_id AS y,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        |r AS (SELECT x, y, cos, row_number() OVER (PARTITION BY x
        |  ORDER BY ${Grid.snapSql("cos", 4)} DESC, y) AS rn FROM p),
        |ak AS (SELECT x, avg(cos) AS avg_k FROM r WHERE rn <= 8
        |  GROUP BY x),
        |sc AS (SELECT p.x, p.y, p.cos,
        |  ${Grid.snapSql("p.cos / ((ax.avg_k + ay.avg_k) / 2)", 4)}
        |    AS margin
        |  FROM p JOIN ak ax ON ax.x = p.x JOIN ak ay ON ay.x = p.y),
        |b AS (SELECT x, y, cos, margin, row_number() OVER (PARTITION BY x
        |  ORDER BY margin DESC, y) AS rn FROM sc)
        |SELECT x, y AS best_match, ${Grid.snapSql("cos", 4)} AS cos,
        |  margin
        |FROM b WHERE rn = 1 ORDER BY x""".stripMargin),

    // Freshness-weighted activity: half-life-bucketed decay weights
    // (2^-floor(age/1d) — integer exponent, so the weighted sums replay
    // exactly) against the stream's max ts, per event type.
    "q151_decayed_activity" -> Query((s, dir) =>
      graft.operators.Decay.decayedProfile(events(s, dir),
          "event_type", "ts", "value", halfLife = "1 day")
        .orderBy(col("event_type")),
      // integer half-life buckets -> power(2.0, -n) is exact on both
      // engines (the HLL register-sum device); date_diff handles either
      // parquet timestamp generation
      """WITH r AS (SELECT max(ts) AS ref FROM events),
        |w AS (SELECT event_type, value, power(2.0,
        |  -CAST(greatest(date_diff('microsecond', ts, ref), 0)
        |    // 86400000000 AS DOUBLE)) AS w FROM events, r)
        |SELECT event_type, count(*) AS n_events,
        |  round(sum(w), 4) AS decayed_count,
        |  round(sum(value * w), 4) AS decayed_value
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),

    // PageRank (10 rounds, d = 0.85) over the rare-trigram
    // co-occurrence graph: high-rank docs are template/boilerplate HUBS
    // that pairwise dedup only sees as many independent pairs. Edges
    // use the q166 df<=6 NEAR-DUP SKELETON (a df-k gram induces a
    // k-clique, so a df-20 blanket is dense by construction — the
    // round-9 bench spent a third of its total on that density; rank
    // over the sparse skeleton is the same signal at a fraction of the
    // edges). The rank loop is one edge⋈rank join + one dst-sum per
    // round on the scope-cached degree-weighted edge table. Top-25 on
    // the rounded grid.
    "q152_pagerank_dupgraph" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val grams = docs.select(col("doc_id"),
        explode(TF.shinglesOf(toks(col("text")), 3)).as("gram"))
      val dfq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      // the pair self-join reads `rare` twice — pin it or the whole
      // gram+df chain runs twice (measured ~2x on the construction)
      val rare = graft.CacheScope.register(
        grams.join(dfq.filter(col("df") <= 6), Seq("gram")).persist())
      val e0 = rare.select(col("doc_id").as("s"), col("gram"))
        .join(rare.select(col("doc_id").as("d"), col("gram")), Seq("gram"))
        .filter(col("s") < col("d"))
        .select(col("s"), col("d")).distinct()
      val edges = e0.unionByName(e0.select(col("d").as("s"),
        col("s").as("d")))
      graft.operators.Graph.pageRank(docs.select(col("doc_id")), "doc_id",
          edges, "s", "d", iters = 10)
        .crossJoin(broadcast(docs
          .agg(count(lit(1)).cast("double").as("__n"))))
        .select(col("doc_id"), col("deg"),
          round(col("pr") * col("__n"), 4).as("pr_norm"))
        .orderBy(col("pr_norm").desc, col("doc_id"))
        .limit(25)
    },
      pageRankOracle(10)),

    // Capstone #11 — canonicalize a fuzzy entity dictionary: distinct
    // part names → noun-block Jaro-Winkler pairs (>= 0.85, the q144
    // codegen expression) → connected components → each cluster
    // reported under the name of its min-partkey member, with how many
    // raw names and part rows it absorbs. The component label IS the
    // min name_id, so canonical resolution is one join, no argmax.
    "q153_entity_canonicalize" -> Query((s, dir) => {
      val names = graft.CacheScope.register(T(s, dir, "part")
        .groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("name_id"),
          count(lit(1)).as("n_part_rows"))
        .persist())
      val pairs = graft.operators.RecordLinkage.fuzzyPairs(
          names, "name_id", "p_name",
          nm => element_at(split(nm, " "), -1), minSim = 0.85)
        .filter(col("name_id") < col("match_id"))
      val comps = graft.operators.Dedup.connectedComponents(
        pairs, "name_id", "match_id")
      val labeled = names
        .join(comps.withColumnRenamed("id", "name_id"),
          Seq("name_id"), "left")
        .withColumn("component",
          coalesce(col("component"), col("name_id")))
      labeled
        .join(names.select(col("name_id").as("component"),
          col("p_name").as("canonical_name")), Seq("component"))
        .groupBy(col("canonical_name"))
        .agg(count(lit(1)).as("n_names"),
          sum(col("n_part_rows")).as("n_parts"))
        .orderBy(col("canonical_name"))
    },
      // DuckDB's native jaro_winkler_similarity verifies the pairs, the
      // q43-precedent recursive reachability labels the components; the
      // min-name_id label doubles as the canonical-name key
      """WITH nm AS (SELECT p_name, min(p_partkey) AS name_id,
        |  count(*) AS n_part_rows FROM part GROUP BY p_name),
        |bl AS (SELECT p_name, name_id, n_part_rows,
        |  string_split(p_name, ' ')[-1] AS blk FROM nm),
        |e0 AS (SELECT a.name_id AS s, b.name_id AS d FROM bl a
        |  JOIN bl b ON a.blk = b.blk AND a.name_id < b.name_id
        |  WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.85),
        |ed AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
        |reach AS (WITH RECURSIVE r(node, lbl) AS (
        |    SELECT name_id, name_id FROM bl
        |    UNION
        |    SELECT e.d, r.lbl FROM r JOIN ed e ON e.s = r.node
        |  ) SELECT * FROM r),
        |comp AS (SELECT node, min(lbl) AS component FROM reach
        |  GROUP BY node)
        |SELECT cn.p_name AS canonical_name, count(*) AS n_names,
        |  CAST(sum(b.n_part_rows) AS BIGINT) AS n_parts
        |FROM comp c JOIN bl b ON b.name_id = c.node
        |JOIN bl cn ON cn.name_id = c.component
        |GROUP BY cn.p_name ORDER BY canonical_name""".stripMargin),

    // Ordered conversion funnel view→click→purchase, first-touch
    // anchored with a 24 h horizon: k chained (user → min ts)
    // aggregations, one user-key shuffle per step over a slice that
    // only shrinks — never a per-user event collection. Counts and
    // rates replay exactly (integer micros comparisons throughout).
    "q154_funnel" -> Query((s, dir) =>
      graft.operators.Funnel.funnelSummary(events(s, dir),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), horizon = "24 hours")
        .orderBy(col("step")),
      // first-touch anchored funnel: each step the earliest qualifying
      // event strictly after the previous step, within 24 h of the
      // step-1 anchor; the three-step union is spelled per step
      """WITH u1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |u2 AS (SELECT e.user_id, any_value(u1.t1) AS anchor,
        |    min(e.ts) AS t2
        |  FROM events e JOIN u1 ON u1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > u1.t1
        |    AND e.ts <= u1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
        |u3 AS (SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN u2 ON u2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
        |    AND e.ts <= u2.anchor + INTERVAL 24 HOUR GROUP BY e.user_id),
        |n AS (SELECT (SELECT count(*) FROM u1) AS n1,
        |  (SELECT count(*) FROM u2) AS n2,
        |  (SELECT count(*) FROM u3) AS n3)
        |SELECT 1 AS step, 'view' AS event_type, n1 AS n_users,
        |  round(CAST(n1 AS DOUBLE) / n1, 4) AS conv_from_first,
        |  round(CAST(n1 AS DOUBLE) / n1, 4) AS conv_from_prev FROM n
        |UNION ALL SELECT 2, 'click', n2, round(CAST(n2 AS DOUBLE) / n1, 4),
        |  round(CAST(n2 AS DOUBLE) / n1, 4) FROM n
        |UNION ALL SELECT 3, 'purchase', n3, round(CAST(n3 AS DOUBLE) / n1, 4),
        |  round(CAST(n3 AS DOUBLE) / n2, 4) FROM n
        |ORDER BY step""".stripMargin),

    // Weekly cohort retention: cohort = week of the user's first
    // high-value purchase (value >= 100), retained-at-offset-k = any
    // purchase in that calendar week. Monday-truncated weeks on both
    // engines; the matrix is (weeks × offsets) tiny after two
    // partial-aggregating shuffles.
    "q155_cohort_retention" -> Query((s, dir) =>
      graft.operators.Funnel.cohortRetention(events(s, dir),
          "user_id", "ts",
          cohortPred = col("event_type") === "purchase" &&
            col("value") >= 100,
          activityPred = col("event_type") === "purchase")
        .orderBy(col("cohort_week"), col("week_offset")),
      // Monday-truncated weeks on both engines; offsets are exact
      // datediff/7 on the truncated dates
      """WITH f AS (SELECT user_id,
        |    date_trunc('week', min(ts)) AS cohort_week FROM events
        |  WHERE event_type = 'purchase' AND value >= 100
        |  GROUP BY user_id),
        |sz AS (SELECT cohort_week, count(*) AS cohort_size FROM f
        |  GROUP BY cohort_week),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_week,
        |    datediff('day', f.cohort_week,
        |      date_trunc('week', e.ts)) // 7 AS week_offset
        |  FROM events e JOIN f USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |    AND CAST(e.ts AS DATE) >= f.cohort_week),
        |m AS (SELECT cohort_week, week_offset, count(*) AS n_active
        |  FROM a GROUP BY cohort_week, week_offset)
        |SELECT m.cohort_week, CAST(m.week_offset AS INTEGER) AS week_offset,
        |  m.n_active, sz.cohort_size,
        |  round(CAST(m.n_active AS DOUBLE) / sz.cohort_size, 4) AS retention
        |FROM m JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // SCD2 intervalization of the per-user event-type stream:
    // gaps-and-islands run detection (lag → running sum → collapse)
    // with all three windows sharing ONE user-key partitioning. The
    // dimension-history build every warehouse runs, here gated on
    // users < 15 to keep the oracle frame readable — the operator
    // itself is corpus-grain.
    "q156_scd2_intervals" -> Query((s, dir) =>
      graft.operators.Scd.intervalize(
          events(s, dir).filter(col("user_id") < 15),
          "user_id", "event_type", "ts", "event_id")
        .orderBy(col("user_id"), col("effective_from")),
      // gaps-and-islands replay: lag change marker, running-sum run id,
      // collapse, lead for the interval close
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
        |  WHERE user_id < 15),
        |chg AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |    AS c FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (SELECT *, sum(c) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
        |  FROM chg),
        |iv AS (SELECT user_id, run, any_value(event_type) AS event_type,
        |    min(ts) AS effective_from, count(*) AS n_obs
        |  FROM runs GROUP BY user_id, run)
        |SELECT user_id, event_type, effective_from,
        |  lead(effective_from) OVER (PARTITION BY user_id ORDER BY run)
        |    AS effective_to, n_obs,
        |  lead(effective_from) OVER (PARTITION BY user_id ORDER BY run)
        |    IS NULL AS is_current
        |FROM iv ORDER BY user_id, effective_from""".stripMargin),

    // Hopping-window aggregation: 1 h windows sliding every 15 min —
    // Spark's native window() emits the d/s = 4 covering windows per
    // event map-side (a bounded explode), then one partial-aggregating
    // shuffle on (window, type). The oracle replays the epoch-aligned
    // window grid with exact integer-micros arithmetic.
    "q157_hopping_window" -> Query((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type")),
      // every event covers exactly d/s = 4 epoch-aligned window starts
      """WITH x AS (SELECT event_type, value, epoch_us(ts) AS u FROM events),
        |w AS (SELECT event_type, value,
        |    make_timestamp(u - (u % 900000000) - k * 900000000)
        |      AS window_start
        |  FROM x, unnest([CAST(0 AS BIGINT), 1, 2, 3]) AS t(k))
        |SELECT window_start, event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM w GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // Reliability diagram of the q117 NB classifier on its held-out
    // split: sigmoid of the raw log-odds into ten equal-width bins,
    // per-bin mean prediction vs observed positive fraction (the ECE
    // terms). Calibration is one bin-cardinality aggregate on top of
    // the scoring pass.
    "q158_calibration_bins" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("is_en", col("lang") === "en")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.QualityClassifier.train(
        docs.filter(split), "doc_id", "text", "is_en")
      graft.operators.QualityClassifier.calibration(
          graft.operators.QualityClassifier.score(
            docs.filter(!split), "doc_id", "text", model),
          "score", "is_en", bins = 10)
        .orderBy(col("bin"))
    },
      HashOracles.q158Calibration(8000, 1.0, 10)),

    // Poisson-bootstrap CI of the per-source mean document length:
    // 100 deterministic Poisson(1) replicates in one map-side explode,
    // replicate means as exact integer-sum ratios, CI = (k_lo, k_hi)
    // order statistics. The cluster-scale bootstrap — no global
    // with-replacement sample ever materializes.
    "q159_bootstrap_ci" -> Query((s, dir) =>
      graft.operators.Bootstrap.poissonCiOfMean(
          T(s, dir, "documents"), "source", "doc_id", "n_chars",
          reps = 100)
        .orderBy(col("source")),
      HashOracles.q159PoissonBootstrap(100)),

    // The ITERATIVE linear quality classifier (fastText/GPT-3 shape):
    // two epochs of full-batch GD logistic regression over 64 hashed
    // unigram+bigram feature buckets, trained on the deterministic 80%
    // split, held-out docs scored under the final weights. Per epoch:
    // one broadcast margin join + one bucket-grain gradient aggregate
    // (the <= 64-row driver collect — the k-means centroid contract).
    "q160_logistic_gd" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("is_en", col("lang") === "en")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.QualityClassifier.trainLogistic(
        docs.filter(split), "doc_id", "text", "is_en",
        numBuckets = 64, epochs = 2, lr = 2.0)
      graft.operators.QualityClassifier.scoreLogistic(
          docs.filter(!split), "doc_id", "text", model)
        .select(col("doc_id"), col("n_feats"),
          round(col("score"), 4).as("score"), col("predicted"),
          col("is_en").as("actual"))
        .orderBy(col("doc_id"))
    },
      HashOracles.q160Logistic(8000, 64, 2.0)),

    // Leakage-safe train/val/test: split keyed on the DUP-CLUSTER
    // label (q43's verified-pair components), so a near-duplicate can
    // never sit in train while its twin sits in test — the
    // contamination a doc-keyed split silently commits. Pair rule is
    // the declared capped oracle baseline; q51 gates the production
    // LSH candidate path for the same clustering.
    "q161_cluster_safe_split" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val t = docs.filter(col("doc_id") < 200)
        .select(col("doc_id"), array_distinct(toks(col("text"))).as("toks"))
      val pairs = t.as("a").join(t.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          DedupFunctions.jaccard(col("a.toks"), col("b.toks")).as("jac"))
        .filter(col("jac") >= 0.9)
      val comps = Dedup.connectedComponents(pairs, "a_id", "b_id")
      graft.operators.Sampling.assignClusterSafeSplit(docs, "doc_id",
          comps, Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split_key")).as("n_keys"))
        .orderBy(col("split"))
    },
      HashOracles.q161ClusterSafeSplit),

    // Capstone #12 — LEAKAGE-SAFE EVALUATION, the whole chain: verified
    // dup pairs → connected components → cluster-keyed train/val/test
    // → NB classifier trained on train ONLY → held-out TEST scored →
    // reliability bins. Evaluating on a doc-keyed split inflates
    // accuracy via near-dup twins; this is the pipeline that makes the
    // reported calibration honest, and the oracle replays every stage.
    "q162_leakage_safe_eval" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("is_en", col("lang") === "en")
      val t = docs.filter(col("doc_id") < 200)
        .select(col("doc_id"), array_distinct(toks(col("text"))).as("toks"))
      val pairs = t.as("a").join(t.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          DedupFunctions.jaccard(col("a.toks"), col("b.toks")).as("jac"))
        .filter(col("jac") >= 0.9)
      val comps = Dedup.connectedComponents(pairs, "a_id", "b_id")
      val assigned = graft.CacheScope.register(
        graft.operators.Sampling.assignClusterSafeSplit(docs, "doc_id",
          comps, Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
          .persist())
      val model = graft.operators.QualityClassifier.train(
        assigned.filter(col("split") === "train"), "doc_id", "text",
        "is_en")
      graft.operators.QualityClassifier.calibration(
          graft.operators.QualityClassifier.score(
            assigned.filter(col("split") === "test"), "doc_id", "text",
            model),
          "score", "is_en", bins = 10)
        .orderBy(col("bin"))
    },
      HashOracles.q162LeakageSafeEval(1.0, 10)),

    // Per-user activity trend: OLS slope/intercept of event value over
    // days-since-first-event, one partial-aggregating pass from the
    // five classical sums (the zipfFit normal-equations device at
    // arbitrary group grain). Degenerate fits are nulls, never inf.
    "q163_user_trend" -> Query((s, dir) => {
      val ev = events(s, dir)
      val t0 = ev.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"))
      val xy = ev.join(t0, Seq("user_id"))
        .withColumn("x",
          (unix_micros(col("ts")) - col("t0")) / lit(86400000000.0))
      graft.operators.Regression.groupedLinearFit(xy, "user_id",
          col("x"), col("value"))
        .select(col("user_id"), col("n"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
        .orderBy(col("user_id"))
    },
      // the same (n, Σx, Σy, Σxy, Σx²) normal equations, x in exact
      // integer micros before the single divide
      """WITH t0 AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
        |  GROUP BY user_id),
        |xy AS (SELECT e.user_id,
        |    (epoch_us(e.ts) - t0.t0) / 86400000000.0 AS x,
        |    CAST(e.value AS DOUBLE) AS y
        |  FROM events e JOIN t0 USING (user_id)),
        |ag AS (SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy GROUP BY user_id)
        |SELECT user_id, n,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
        |      / n, 6) END AS intercept
        |FROM ag ORDER BY user_id""".stripMargin),

    // Market-basket associations over order lineitems: distinct
    // (order, part), hub-capped baskets, pair counts via ONE equi-join
    // on the order key, lift as an exact integer-product ratio. Top 25
    // by lift — the ordering key is a single exact division, so the
    // cutoff is engine-stable.
    "q164_basket_lift" -> Query((s, dir) =>
      graft.operators.Basket.pairAssociations(
          T(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          maxBasketSize = 20, minPairCount = 2)
        .select(col("item_a"), col("item_b"), col("c_ab"),
          round(col("support"), 6).as("support"),
          round(col("confidence"), 6).as("confidence"),
          round(col("lift"), 4).as("lift"))
        .orderBy(col("lift").desc, col("item_a"), col("item_b"))
        .limit(25),
      // capped-universe supports; lift is one exact integer-product ratio
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |sz AS (SELECT b, count(*) AS sz FROM it GROUP BY b),
        |cap AS (SELECT it.* FROM it JOIN sz USING (b) WHERE sz <= 20),
        |nb AS (SELECT count(DISTINCT b) AS n FROM cap),
        |ic AS (SELECT i, count(*) AS c_item FROM cap GROUP BY i),
        |p AS (SELECT a.i AS ia, b2.i AS ib, count(*) AS c_ab
        |  FROM cap a JOIN cap b2 USING (b) WHERE a.i < b2.i
        |  GROUP BY a.i, b2.i HAVING count(*) >= 2)
        |SELECT p.ia AS item_a, p.ib AS item_b, p.c_ab,
        |  round(CAST(p.c_ab AS DOUBLE) / nb.n, 6) AS support,
        |  round(CAST(p.c_ab AS DOUBLE) / ca.c_item, 6) AS confidence,
        |  round(CAST(p.c_ab * nb.n AS DOUBLE)
        |    / (ca.c_item * cb.c_item), 4) AS lift
        |FROM p JOIN ic ca ON ca.i = p.ia JOIN ic cb ON cb.i = p.ib, nb
        |ORDER BY round(CAST(p.c_ab * nb.n AS DOUBLE)
        |  / (ca.c_item * cb.c_item), 4) DESC, p.ia, p.ib
        |LIMIT 25""".stripMargin),

    // Customer revenue deciles: NTILE over (revenue desc, key) — the
    // deterministic tie-break makes the bucket boundaries engine-exact
    // — then per-decile accounting. Window state is one pass at
    // customer grain.
    "q165_revenue_deciles" -> Query((s, dir) => {
      val rev = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("revenue"))
      graft.operators.Ranks.withGlobalNtile(rev,
          Seq(col("revenue").desc, col("o_custkey")), 10, "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("revenue")), 2).as("total_revenue"),
          round(avg(col("revenue")), 2).as("avg_revenue"))
        .orderBy(col("decile"))
    },
      """WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS revenue
        |  FROM orders GROUP BY o_custkey),
        |d AS (SELECT revenue, CAST(ntile(10) OVER
        |    (ORDER BY revenue DESC, o_custkey) AS INTEGER) AS decile
        |  FROM rev)
        |SELECT decile, count(*) AS n_customers,
        |  round(sum(revenue), 2) AS total_revenue,
        |  round(avg(revenue), 2) AS avg_revenue
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin),

    // Triangle census of the NEAR-DUP SKELETON: the q152 edge rule at
    // df <= 6 (a df-k gram induces a k-clique, so the df-20 blanket is
    // dense by construction — 10^8 wedges at sf0.1; the census wants
    // the sparse skeleton where triangle density is a SIGNAL, and the
    // compact-forward operator keeps the join bounded). Dup cliques
    // show up as triangle-dense neighborhoods long before pairwise
    // dedup enumerates them.
    "q166_triangle_census" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val grams = docs.select(col("doc_id"),
        explode(TF.shinglesOf(toks(col("text")), 3)).as("gram"))
      val dfq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      val rare = graft.CacheScope.register(
        grams.join(dfq.filter(col("df") <= 6), Seq("gram")).persist())
      val e0 = rare.select(col("doc_id").as("s"), col("gram"))
        .join(rare.select(col("doc_id").as("d"), col("gram")), Seq("gram"))
        .filter(col("s") < col("d"))
        .select(col("s"), col("d")).distinct()
      graft.operators.Graph.triangleStats(e0, "s", "d")
    },
      // oriented a<b<c closed-wedge join; wedges from the symmetric
      // degree table
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |gr AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id,
         |  unnest(CASE WHEN len(t) >= 3
         |    THEN list_transform(range(0, len(t) - 2),
         |      i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
         |    ELSE [array_to_string(t, ' ')] END) AS gram FROM tk)),
         |dfq AS (SELECT gram, count(*) AS df FROM gr GROUP BY gram),
         |rare AS (SELECT doc_id, gram FROM gr JOIN dfq USING (gram)
         |  WHERE df <= 6),
         |e AS (SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
         |  FROM rare a JOIN rare b USING (gram) WHERE a.doc_id < b.doc_id),
         |tri AS (SELECT count(*) AS n_triangles FROM e ab
         |  JOIN e bc ON ab.d = bc.s
         |  JOIN e ac ON ac.s = ab.s AND ac.d = bc.d),
         |deg AS (SELECT v, count(*) AS deg FROM
         |  (SELECT s AS v FROM e UNION ALL SELECT d FROM e) GROUP BY v),
         |w AS (SELECT count(*) AS n_nodes,
         |  CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
         |  CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg)
         |SELECT w.n_nodes, w.n_edges, tri.n_triangles, w.n_wedges,
         |  CASE WHEN w.n_wedges > 0 THEN
         |    round(3.0 * tri.n_triangles / w.n_wedges, 4) END
         |    AS clustering_coeff
         |FROM w, tri""".stripMargin),

    // Bloom-pruned semi-join: orders of high-balance customers. The
    // bitmap (built from the build side, broadcast, probed BEFORE the
    // shuffle) only moves work — the exact semi-join behind it kills
    // the false positives, so the oracle is the plain semi-join.
    "q167_bloom_semijoin" -> Query((s, dir) => {
      val rich = T(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("o_custkey"))
      graft.operators.SkewJoins.bloomPrunedSemiJoin(
          T(s, dir, "orders"), "o_custkey", rich, "o_custkey",
          numBits = 1 << 16)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("month"))
    },
      // the bloom is exactness-preserving: the oracle is the plain
      // semi-join
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // WordPiece-flavored greedy longest-match encoding: substring
    // vocabulary trained on doc_id < 250 (full alphabet + top-50
    // 2-grams + top-25 3-grams on the deterministic (count, piece)
    // grid), every doc segmented in ONE map-only UDF pass with the
    // config-bounded vocab in the closure. The md5 replay gates the
    // exact piece stream; the oracle walks the same greedy jumps via a
    // recursive CTE.
    "q168_wordpiece_encode" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val vocab = graft.operators.TokenizerTraining.greedySubstringVocab(
        docs.filter(col("doc_id") < 250), "text", Seq(2 -> 50, 3 -> 25))
      graft.operators.TokenizerTraining.greedyEncode(docs, "doc_id",
          "text", vocab, maxPieceLen = 3)
        .orderBy(col("doc_id"))
    },
      // vocab CTEs on the (count desc, piece) grid; the greedy scan is a
      // precomputed longest-match jump table walked by a recursive CTE
      // (aggregates forbidden in the recursive term, so best-match is
      // resolved BEFORE the recursion)
      s"""WITH trtok AS (SELECT unnest($ToksSql) AS w FROM documents
         |  WHERE doc_id < 250),
         |c1 AS (SELECT DISTINCT substring(w, i, 1) AS p FROM
         |  (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM trtok)),
         |p2 AS (SELECT substring(w, i, 2) AS p, count(*) AS c FROM
         |  (SELECT w, unnest(range(1, length(w))) AS i FROM trtok)
         |  GROUP BY 1 ORDER BY c DESC, p LIMIT 50),
         |p3 AS (SELECT substring(w, i, 3) AS p, count(*) AS c FROM
         |  (SELECT w, unnest(range(1, length(w) - 1)) AS i FROM trtok)
         |  GROUP BY 1 ORDER BY c DESC, p LIMIT 25),
         |vocab AS (SELECT p FROM c1 UNION SELECT p FROM p2
         |  UNION SELECT p FROM p3),
         |tw AS (SELECT doc_id, i AS pos, t[i] AS w FROM
         |  (SELECT doc_id, $ToksSql AS t FROM documents),
         |  unnest(range(1, len(t) + 1)) AS u(i)),
         |wd AS (SELECT DISTINCT w FROM tw),
         |ps AS (SELECT w, unnest(range(1, length(w) + 1)) AS p FROM wd),
         |cand AS (SELECT ps.w, ps.p, l FROM ps,
         |  unnest([3, 2, 1]) AS t(l)
         |  WHERE ps.p + l - 1 <= length(ps.w)
         |    AND substring(ps.w, ps.p, l) IN (SELECT p FROM vocab)),
         |best AS (SELECT w, p, max(l) AS l FROM cand GROUP BY w, p),
         |jump AS (SELECT ps.w, ps.p, coalesce(best.l, 1) AS step,
         |  CASE WHEN best.l IS NULL THEN '<unk>'
         |    ELSE substring(ps.w, ps.p, best.l) END AS piece
         |  FROM ps LEFT JOIN best ON best.w = ps.w AND best.p = ps.p),
         |reach AS (WITH RECURSIVE r(w, p) AS (
         |    SELECT w, CAST(1 AS BIGINT) FROM wd
         |    UNION
         |    SELECT r.w, r.p + j.step FROM r
         |    JOIN jump j ON j.w = r.w AND j.p = r.p
         |    WHERE r.p + j.step <= length(r.w)
         |  ) SELECT * FROM r),
         |wp AS (SELECT j.w, string_agg(j.piece, ' ' ORDER BY j.p) AS pcs,
         |    count(*) AS np,
         |    sum(CASE WHEN j.piece = '<unk>' THEN 1 ELSE 0 END) AS nu
         |  FROM reach r JOIN jump j ON j.w = r.w AND j.p = r.p
         |  GROUP BY j.w),
         |dk AS (SELECT tw.doc_id, count(*) AS n_tokens,
         |    sum(wp.np) AS n_pieces, sum(wp.nu) AS n_unk,
         |    md5(string_agg(wp.pcs, ' ' ORDER BY tw.pos)) AS pieces_md5
         |  FROM tw JOIN wp ON wp.w = tw.w GROUP BY tw.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(dk.n_tokens, 0) AS INTEGER) AS n_tokens,
         |  CAST(coalesce(dk.n_pieces, 0) AS INTEGER) AS n_pieces,
         |  CAST(coalesce(dk.n_unk, 0) AS INTEGER) AS n_unk,
         |  coalesce(dk.pieces_md5, md5('')) AS pieces_md5
         |FROM documents d LEFT JOIN dk USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // HITS over the buyer→part bipartite graph (5 L2-normalized
    // rounds): authority parts are "bought by the heavy buyers", hub
    // customers "buy the authoritative parts". Top-15 per side on the
    // rounded grid so the cutoff is engine-stable.
    "q169_hits_bipartite" -> Query((s, dir) => {
      val edges = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"))
        .join(T(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      val scored = graft.operators.Graph.hits(edges, "src", "dst",
        iters = 5)
      val w = Window.partitionBy(col("side"))
        .orderBy(round(col("score"), 6).desc, col("id"))
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 15)
        .select(col("side"), col("rn"), col("id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("side"), col("rn"))
    },
      hitsOracle(5)),

    // Semi-supervised label propagation: language labels seeded on
    // doc_id < 100, pushed 2 synchronous rounds over the rare-trigram
    // co-occurrence graph (majority vote, lexicographic tie-break) —
    // the q166 df<=6 skeleton, for the same density reason as q152.
    // The cheap "label the long tail from a small labeled core" device;
    // is_correct audits it against the held-back truth.
    "q170_label_propagation" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val grams = docs.select(col("doc_id"),
        explode(TF.shinglesOf(toks(col("text")), 3)).as("gram"))
      val dfq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      // the pair self-join reads `rare` twice — pin it or the whole
      // gram+df chain runs twice (measured ~2x on the construction)
      val rare = graft.CacheScope.register(
        grams.join(dfq.filter(col("df") <= 6), Seq("gram")).persist())
      val e0 = rare.select(col("doc_id").as("s"), col("gram"))
        .join(rare.select(col("doc_id").as("d"), col("gram")), Seq("gram"))
        .filter(col("s") < col("d"))
        .select(col("s"), col("d")).distinct()
      val seeds = docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("lang"))
      graft.operators.Graph.propagateLabels(seeds, "doc_id", "lang",
          e0, "s", "d", rounds = 2)
        .join(docs.select(col("doc_id").as("id"),
          col("lang").as("true_lang")), Seq("id"))
        .select(col("id").as("doc_id"), col("label"),
          col("round_assigned"),
          (col("label") === col("true_lang")).as("is_correct"))
        .orderBy(col("doc_id"))
    },
      // two unrolled synchronous rounds over the symmetric q152-rule
      // edges; majority with (count desc, label) tie-break
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |gr AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id,
         |  unnest(CASE WHEN len(t) >= 3
         |    THEN list_transform(range(0, len(t) - 2),
         |      i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
         |    ELSE [array_to_string(t, ' ')] END) AS gram FROM tk)),
         |dfq AS (SELECT gram, count(*) AS df FROM gr GROUP BY gram),
         |rare AS (SELECT doc_id, gram FROM gr JOIN dfq USING (gram)
         |  WHERE df <= 6),
         |e0 AS (SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
         |  FROM rare a JOIN rare b USING (gram) WHERE a.doc_id < b.doc_id),
         |ed AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
         |lab0 AS (SELECT doc_id AS id, lang AS label, 0 AS r
         |  FROM documents WHERE doc_id < 100),
         |v1 AS (SELECT e.d AS id, l.label, count(*) AS c FROM ed e
         |  JOIN lab0 l ON l.id = e.s
         |  WHERE e.d NOT IN (SELECT id FROM lab0) GROUP BY e.d, l.label),
         |n1 AS (SELECT id, label, 1 AS r FROM (SELECT id, label,
         |  row_number() OVER (PARTITION BY id ORDER BY c DESC, label)
         |    AS rn FROM v1) WHERE rn = 1),
         |lab1 AS (SELECT * FROM lab0 UNION ALL SELECT * FROM n1),
         |v2 AS (SELECT e.d AS id, l.label, count(*) AS c FROM ed e
         |  JOIN lab1 l ON l.id = e.s
         |  WHERE e.d NOT IN (SELECT id FROM lab1) GROUP BY e.d, l.label),
         |n2 AS (SELECT id, label, 2 AS r FROM (SELECT id, label,
         |  row_number() OVER (PARTITION BY id ORDER BY c DESC, label)
         |    AS rn FROM v2) WHERE rn = 1),
         |lab2 AS (SELECT * FROM lab1 UNION ALL SELECT * FROM n2)
         |SELECT l.id AS doc_id, l.label, l.r AS round_assigned,
         |  l.label = d.lang AS is_correct
         |FROM lab2 l JOIN documents d ON d.doc_id = l.id
         |ORDER BY doc_id""".stripMargin),

    // Maximal Marginal Relevance: 10 diverse exemplars near vector 0,
    // λ = 0.7 — greedy argmax of λ·rel − (1−λ)·max-sim-to-picked on
    // the rounded 1e-6 grid (id tie-break), so the DISCRETE selection
    // trajectory replays engine-exactly. k map-only passes over the
    // cached candidates, selected set in the closure.
    "q171_mmr_selection" -> Query((s, dir) =>
      graft.operators.Similarity.mmrSelect(
        T(s, dir, "embeddings").filter(col("vec_id") < 300),
        "vec_id", "embedding", queryId = 0L, k = 10, lambda = 0.7),
      mmrOracle(10, 0.7, 300L)),

    // Quantile normalization of per-source length distributions onto
    // the pooled distribution — integer-exact nearest-rank-floor
    // mapping (pooled rank via distributed sort + zipWithIndex, never
    // a global window).
    "q172_quantile_normalize" -> Query((s, dir) =>
      graft.operators.Normalize.quantileNormalize(
          T(s, dir, "documents"), "source", "doc_id", "n_chars")
        .orderBy(col("doc_id")),
      // integer-exact nearest-rank-floor mapping; `//` IS the div
      """WITH base AS (SELECT source, doc_id, n_chars FROM documents
        |  WHERE n_chars IS NOT NULL),
        |pool AS (SELECT n_chars AS pv, row_number() OVER
        |  (ORDER BY n_chars, doc_id) - 1 AS idx FROM base),
        |nn AS (SELECT count(*) AS n FROM base),
        |rk AS (SELECT source, doc_id, n_chars, row_number() OVER
        |    (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
        |  count(*) OVER (PARTITION BY source) AS ng FROM base)
        |SELECT rk.source, rk.doc_id, rk.n_chars, pool.pv AS normalized
        |FROM rk, nn
        |JOIN pool ON pool.idx = CASE WHEN rk.ng > 1
        |  THEN ((rk.r - 1) * (nn.n - 1)) // (rk.ng - 1) ELSE 0 END
        |ORDER BY rk.doc_id""".stripMargin),

    // Chi-square distinctive terms: the 5 most over-represented tokens
    // per source vs the rest of the corpus — exact integer contingency
    // counts, one fixed double expression tree for the statistic.
    "q173_distinctive_terms" -> Query((s, dir) =>
      graft.operators.Keywords.distinctiveTerms(
          T(s, dir, "documents"), "source", "text", topK = 5)
        .orderBy(col("source"), col("rn")),
      // 2x2 contingency chi-square, over-represented terms only; the
      // statistic is one fixed double tree on exact integer counts
      s"""WITH rws AS (SELECT source, unnest($ToksSql) AS token
         |  FROM documents),
         |gt AS (SELECT source, token, count(*) AS a FROM rws
         |  GROUP BY source, token),
         |ctb AS (SELECT token, sum(a) AS ct FROM gt GROUP BY token),
         |tgb AS (SELECT source, sum(a) AS tg FROM gt GROUP BY source),
         |nn AS (SELECT sum(a) AS n FROM gt),
         |x AS (SELECT g.source, g.token, g.a,
         |  CAST(g.a AS DOUBLE) AS da, CAST(c.ct - g.a AS DOUBLE) AS db,
         |  CAST(t.tg - g.a AS DOUBLE) AS dc,
         |  CAST(nn.n - t.tg - (c.ct - g.a) AS DOUBLE) AS dd,
         |  CAST(nn.n AS DOUBLE) AS dn
         |  FROM gt g JOIN ctb c USING (token) JOIN tgb t USING (source),
         |  nn),
         |s AS (SELECT source, token, a,
         |  CASE WHEN (da + db) * (dc + dd) * (da + dc) * (db + dd) <> 0
         |    THEN round(dn * (da * dd - db * dc) * (da * dd - db * dc)
         |      / ((da + db) * (dc + dd) * (da + dc) * (db + dd)), 4)
         |  END AS chi2,
         |  da * dd > db * dc AS pos FROM x),
         |r AS (SELECT source, token, a, chi2, CAST(row_number() OVER
         |  (PARTITION BY source ORDER BY chi2 DESC, token) AS INTEGER)
         |    AS rn
         |  FROM s WHERE chi2 IS NOT NULL AND pos)
         |SELECT source, rn, token, a AS count, chi2 FROM r
         |WHERE rn <= 5 ORDER BY source, rn""".stripMargin),

    // Burstiness: per-user variance-to-mean ratio of hourly activity
    // over the stream's global hour span — integer sums, two mirrored
    // divisions.
    "q174_burstiness" -> Query((s, dir) =>
      graft.operators.Robust.dispersionProfile(events(s, dir),
          "user_id", "ts")
        .orderBy(col("user_id")),
      // hourly buckets on the exact integer grid; zero hours enter
      // through the span denominator only
      """WITH h AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour
        |  FROM events),
        |sp AS (SELECT max(hour) - min(hour) + 1 AS hh FROM h),
        |c AS (SELECT user_id, hour, count(*) AS c FROM h
        |  GROUP BY user_id, hour),
        |g AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |  count(*) AS active_hours, sum(c * c) AS ss FROM c
        |  GROUP BY user_id)
        |SELECT user_id, n_events, active_hours,
        |  round((CAST(ss AS DOUBLE) / sp.hh
        |    - (CAST(n_events AS DOUBLE) / sp.hh)
        |      * (CAST(n_events AS DOUBLE) / sp.hh))
        |    / (CAST(n_events AS DOUBLE) / sp.hh), 4) AS dispersion
        |FROM g, sp ORDER BY user_id""".stripMargin),

    // Behavioral trigrams: the 20 most common 3-event sequences across
    // user streams — one user-key window (both leads share it), one
    // count, one top-k heap.
    "q175_event_paths" -> Query((s, dir) =>
      graft.operators.Funnel.topEventPaths(events(s, dir), "user_id",
        "event_type", "ts", "event_id", n = 3, k = 20),
      """WITH p AS (SELECT event_type || ' > '
        |    || lead(event_type, 1) OVER w || ' > '
        |    || lead(event_type, 2) OVER w AS path,
        |    lead(event_type, 2) OVER w AS l2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT path, count(*) AS n_paths FROM p WHERE l2 IS NOT NULL
        |GROUP BY path ORDER BY n_paths DESC, path LIMIT 20""".stripMargin),

    // Time-to-convert octave histogram for view→click→purchase
    // completers (24 h horizon): exact integer minutes, the
    // no-doubles logBucket device.
    "q176_conversion_latency" -> Query((s, dir) =>
      graft.operators.Funnel.conversionLatency(events(s, dir),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), horizon = "24 hours")
        .orderBy(col("bucket")),
      {
      val pows = (0 until 24).map(1L << _).mkString("[", ", ", "]")
      s"""WITH u1 AS (SELECT user_id, min(ts) AS t1 FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |u2 AS (SELECT e.user_id, any_value(u1.t1) AS anchor,
         |    min(e.ts) AS t2
         |  FROM events e JOIN u1 ON u1.user_id = e.user_id
         |  WHERE e.event_type = 'click' AND e.ts > u1.t1
         |    AND e.ts <= u1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
         |u3 AS (SELECT e.user_id, any_value(u2.anchor) AS anchor,
         |    min(e.ts) AS t3
         |  FROM events e JOIN u2 ON u2.user_id = e.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
         |    AND e.ts <= u2.anchor + INTERVAL 24 HOUR GROUP BY e.user_id),
         |m AS (SELECT user_id, greatest(
         |    (epoch_us(t3) - epoch_us(anchor)) // 60000000, 1) AS mins
         |  FROM u3),
         |b AS (SELECT CAST(len(list_filter($pows, q -> q <= mins))
         |    AS INTEGER) AS bucket,
         |  mins FROM m)
         |SELECT bucket, count(*) AS n_users, min(mins) AS min_minutes,
         |  max(mins) AS max_minutes
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    }),

    // Rate anomalies: hourly error-count z-score against the trailing
    // 24 one-hour buckets (mean/var from exact integer sums over the
    // SAME window frame in both engines); |z| >= 3 flags. The
    // streaming-ops monitor in batch form.
    "q177_rate_anomalies" -> Query((s, dir) => {
      val hourly = events(s, dir).filter(col("event_type") === "error")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("c"))
        .select(col("window.start").as("hour_start"), col("c"))
      // trailing-24 moving stats from EXACT integer prefix sums over
      // the hourly-bucket table (no unpartitioned window): the -24..-1
      // frame at row i is cum[i-1] - cum[i-25], and averaging exact
      // integer sums divides the same operands the window avg did
      // PINNED: cum feeds itself twice via the shifted self-joins —
      // uncached, the one-task scan would run three times
      val cum = graft.CacheScope.register(
        graft.operators.Ranks.withOrderedPrefixScan(
          hourly.withColumn("c2", col("c") * col("c")),
          Seq(col("hour_start")), Seq("c" -> "cc", "c2" -> "cc2"),
          idxCol = "__i").persist())
      val p1 = cum.select((col("__i") + 1L).as("__i"),
        col("cc").as("__p1c"), col("cc2").as("__p1c2"))
      val p25 = cum.select((col("__i") + 25L).as("__i"),
        col("cc").as("__p25c"), col("cc2").as("__p25c2"))
      cum
        .join(p1, Seq("__i"))
        .join(p25, Seq("__i"), "left")
        // exactly 24 prior rows exist iff __i >= 25 (at __i = 25 the
        // exclusive base cum[0] is the implicit 0)
        .filter(col("__i") >= 25L)
        .withColumn("mu",
          (col("__p1c") - coalesce(col("__p25c"), lit(0L)))
            .cast("double") / 24.0)
        .withColumn("ex2",
          (col("__p1c2") - coalesce(col("__p25c2"), lit(0L)))
            .cast("double") / 24.0)
        .withColumn("sd",
          sqrt(col("ex2") - col("mu") * col("mu")))
        .withColumn("z", when(col("sd") > 0,
          round((col("c") - col("mu")) / col("sd"), 4)))
        .filter(abs(col("z")) >= 2.5)
        .select(col("hour_start"), col("c"),
          round(col("mu"), 4).as("mu"), col("z"))
        .orderBy(col("hour_start"))
    },
      """WITH hourly AS (SELECT make_timestamp(epoch_us(ts)
        |    - epoch_us(ts) % 3600000000) AS hour_start, count(*) AS c
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |w AS (SELECT hour_start, c, avg(c) OVER win AS mu,
        |    avg(c * c) OVER win AS ex2, count(c) OVER win AS nprev
        |  FROM hourly WINDOW win AS (ORDER BY hour_start
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT hour_start, c, round(mu, 4) AS mu,
        |  round((c - mu) / sqrt(ex2 - mu * mu), 4) AS z
        |FROM w WHERE nprev = 24 AND sqrt(ex2 - mu * mu) > 0
        |  AND abs(round((c - mu) / sqrt(ex2 - mu * mu), 4)) >= 2.5
        |ORDER BY hour_start""".stripMargin),

    // Capstone #13 — the product-analytics chain end-to-end: weekly
    // activation cohorts (q155's rule) × the anchored funnel (q154's
    // rule), i.e. "how does conversion depth differ by vintage". One
    // funnelTimes frame joined against the cohort table; per
    // (cohort, step) counts with cohort-relative rates.
    "q178_cohort_funnel" -> Query((s, dir) => {
      val ev = events(s, dir)
      val cohorts = ev
        .filter(col("event_type") === "purchase" && col("value") >= 100)
        .groupBy(col("user_id"))
        .agg(to_date(date_trunc("week", min(col("ts"))))
          .as("cohort_week"))
      val times = graft.operators.Funnel.funnelTimes(ev, "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"),
        horizon = "24 hours")
      val joined = graft.CacheScope.register(
        times.join(cohorts, Seq("user_id")).persist())
      val perStep = Seq(1, 2, 3).map { i =>
        joined.groupBy(col("cohort_week"))
          .agg(count(col(s"t$i")).as("n_users"))
          .withColumn("step", lit(i))
      }
      val base = joined.groupBy(col("cohort_week"))
        .agg(count(col("t1")).as("n_base"))
      perStep.reduce(_ unionByName _)
        .join(base, Seq("cohort_week"))
        .filter(col("n_base") > 0)
        .select(col("cohort_week"), col("step"), col("n_users"),
          round(col("n_users") / col("n_base"), 4).as("conv"))
        .orderBy(col("cohort_week"), col("step"))
    },
      // q154's anchored chain carried per user, sliced by q155's cohort
      """WITH ch AS (SELECT user_id, date_trunc('week', min(ts))
        |    AS cohort_week FROM events
        |  WHERE event_type = 'purchase' AND value >= 100
        |  GROUP BY user_id),
        |u1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |u2 AS (SELECT e.user_id, any_value(u1.t1) AS anchor,
        |    min(e.ts) AS t2
        |  FROM events e JOIN u1 ON u1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > u1.t1
        |    AND e.ts <= u1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
        |u3 AS (SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN u2 ON u2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
        |    AND e.ts <= u2.anchor + INTERVAL 24 HOUR GROUP BY e.user_id),
        |tt AS (SELECT u1.user_id, ch.cohort_week, u1.t1, u2.t2, u3.t3
        |  FROM u1 JOIN ch USING (user_id)
        |  LEFT JOIN u2 USING (user_id) LEFT JOIN u3 USING (user_id)),
        |st AS (
        |  SELECT cohort_week, 1 AS step, count(t1) AS n_users FROM tt
        |    GROUP BY cohort_week
        |  UNION ALL SELECT cohort_week, 2, count(t2) FROM tt
        |    GROUP BY cohort_week
        |  UNION ALL SELECT cohort_week, 3, count(t3) FROM tt
        |    GROUP BY cohort_week),
        |bs AS (SELECT cohort_week, count(t1) AS n_base FROM tt
        |  GROUP BY cohort_week)
        |SELECT st.cohort_week, st.step, st.n_users,
        |  round(CAST(st.n_users AS DOUBLE) / bs.n_base, 4) AS conv
        |FROM st JOIN bs USING (cohort_week) WHERE bs.n_base > 0
        |ORDER BY st.cohort_week, st.step""".stripMargin),

    // Behavioral diversity: Shannon entropy (nats) of each user's
    // event-type mix, normalized by ln(categories) — exact count
    // ratios, ln the only libm call.
    "q179_event_entropy" -> Query((s, dir) =>
      graft.operators.Robust.entropyProfile(events(s, dir),
          "user_id", "event_type")
        .orderBy(col("user_id")),
      // H = ln(n) - (sum c*ln c)/n, the exact algebra of -sum p ln p
      """WITH c AS (SELECT user_id, event_type, count(*) AS c FROM events
        |  GROUP BY user_id, event_type),
        |g AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |  count(*) AS n_cats,
        |  sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clc
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n, n_cats,
        |  round(ln(CAST(n AS DOUBLE)) - clc / n, 4) AS entropy,
        |  CASE WHEN n_cats > 1 THEN
        |    round((ln(CAST(n AS DOUBLE)) - clc / n)
        |      / ln(CAST(n_cats AS DOUBLE)), 4) ELSE 0.0 END
        |    AS entropy_norm
        |FROM g ORDER BY user_id""".stripMargin),

    // Revenue concentration: per-nation Gini over customer revenue —
    // the sorted-rank identity, one window + one aggregate per group.
    "q180_revenue_gini" -> Query((s, dir) => {
      val rev = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("revenue"))
      val cust = T(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      graft.operators.Robust.giniProfile(
          rev.join(cust, Seq("o_custkey"))
            .join(broadcast(T(s, dir, "nation")
              .select(col("n_nationkey").as("c_nationkey"),
                col("n_name"))), Seq("c_nationkey")),
          "n_name", "o_custkey", "revenue")
        .orderBy(col("n_name"))
    },
      // sorted-rank Gini identity with a (value, id) rank tie-break
      """WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS revenue
        |  FROM orders GROUP BY o_custkey),
        |j AS (SELECT n.n_name, rev.o_custkey, rev.revenue
        |  FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |r AS (SELECT n_name, revenue, row_number() OVER
        |  (PARTITION BY n_name ORDER BY revenue, o_custkey) AS i
        |  FROM j),
        |g AS (SELECT n_name, count(*) AS n, sum(revenue) AS s,
        |  sum(i * revenue) AS si FROM r GROUP BY n_name)
        |SELECT n_name, n, CASE WHEN s > 0 THEN
        |  round((2.0 * si - (n + 1) * s) / (n * s), 4) END AS gini
        |FROM g ORDER BY n_name""".stripMargin),

    // Token-weighted median doc length per source — integer-exact
    // cumulative-weight threshold, no float percentile: the typical
    // doc by TOKEN MASS, which shorts-dominated sources skew far from
    // the plain median.
    "q181_weighted_median" -> Query((s, dir) =>
      graft.operators.Robust.weightedMedian(
          T(s, dir, "documents")
            .withColumn("n_tok", size(toks(col("text"))).cast("long")),
          "source", "doc_id", "n_chars", "n_tok")
        .orderBy(col("source")),
      // integer cumulative-weight threshold; first qualifying value IS
      // the min over qualifying rows
      s"""WITH d AS (SELECT source, doc_id, n_chars,
         |  len($ToksSql) AS w FROM documents),
         |f AS (SELECT * FROM d WHERE w IS NOT NULL AND w > 0),
         |c AS (SELECT source, n_chars, w,
         |  sum(w) OVER (PARTITION BY source ORDER BY n_chars, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(w) OVER (PARTITION BY source) AS tot FROM f)
         |SELECT source, min(n_chars) AS weighted_median,
         |  CAST(max(tot) AS BIGINT) AS total_weight
         |FROM c WHERE cum * 2 >= tot GROUP BY source
         |ORDER BY source""".stripMargin),

    // Capstone #14 — the user-segmentation readout: users quartiled by
    // activity volume (deterministic NTILE), each segment profiled by
    // funnel completion and behavioral entropy. The "who converts —
    // power users or diverse users" dashboard in one gated statement.
    "q182_segment_profile" -> Query((s, dir) => {
      val ev = events(s, dir)
      val vol = graft.operators.Ranks.withGlobalNtile(
        ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events")),
        Seq(col("n_events").desc, col("user_id")), 4, "quartile")
      val times = graft.operators.Funnel.funnelTimes(ev, "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"),
        horizon = "24 hours")
      val ent = graft.operators.Robust.entropyProfile(ev, "user_id",
        "event_type")
      vol
        .join(times.select(col("user_id"), col("t3")), Seq("user_id"),
          "left")
        .join(ent.select(col("user_id"), col("entropy")), Seq("user_id"))
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_events")).as("n_events"),
          count(col("t3")).as("n_converted"),
          round(count(col("t3")) / count(lit(1)).cast("double"), 4)
            .as("conversion"),
          round(avg(col("entropy")), 4).as("avg_entropy"))
        .orderBy(col("quartile"))
    },
      // activity NTILE x funnel completion x entropy, one statement
      """WITH vol AS (SELECT user_id, count(*) AS n_events FROM events
        |  GROUP BY user_id),
        |qt AS (SELECT user_id, n_events, ntile(4) OVER
        |  (ORDER BY n_events DESC, user_id) AS quartile FROM vol),
        |u1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |u2 AS (SELECT e.user_id, any_value(u1.t1) AS anchor,
        |    min(e.ts) AS t2
        |  FROM events e JOIN u1 ON u1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > u1.t1
        |    AND e.ts <= u1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
        |u3 AS (SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN u2 ON u2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
        |    AND e.ts <= u2.anchor + INTERVAL 24 HOUR GROUP BY e.user_id),
        |ec AS (SELECT user_id, event_type, count(*) AS c FROM events
        |  GROUP BY user_id, event_type),
        |en AS (SELECT user_id, sum(c) AS n, count(*) AS n_cats,
        |  sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clc
        |  FROM ec GROUP BY user_id),
        |ent AS (SELECT user_id,
        |  round(ln(CAST(n AS DOUBLE)) - clc / n, 4) AS entropy FROM en)
        |SELECT CAST(qt.quartile AS INTEGER) AS quartile,
        |  count(*) AS n_users,
        |  CAST(sum(qt.n_events) AS BIGINT) AS n_events,
        |  count(u3.t3) AS n_converted,
        |  round(count(u3.t3) / CAST(count(*) AS DOUBLE), 4) AS conversion,
        |  round(avg(ent.entropy), 4) AS avg_entropy
        |FROM qt LEFT JOIN u3 USING (user_id) JOIN ent USING (user_id)
        |GROUP BY qt.quartile ORDER BY qt.quartile""".stripMargin),

    // CUSUM drift per event type over the hourly series — the
    // sequential change-point recurrence in its closed two-window form
    // (ordered prefix sum + running min, empty prefix included), so no
    // iterative state and both engines evaluate the same ordered
    // frames. Summary per type: buckets, peak statistic, drift rows
    // at the 4σ decision line.
    "q183_cusum_drift" -> Query((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("c"))
        .select(col("event_type"), col("window.start").as("hour_start"),
          col("c"))
      graft.operators.Robust.cusumDrift(hourly, "event_type",
          "hour_start", "c", slack = 0.5, threshold = 4.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_buckets"),
          // cusum is already snapped at 1e-4 by the operator; max of
          // snapped values needs no re-round
          max(col("cusum")).as("peak_cusum"),
          sum(when(col("drift"), 1L).otherwise(0L)).as("n_drift"))
        .orderBy(col("event_type"))
    },
      // prefix-sum + running-min CUSUM (empty prefix in the min), drift
      // decided on the unrounded statistic
      // P_i from the EXACT integer prefix (order-free under DuckDB's
      // segment-tree window sum), then 3 deterministic flops — mirrors
      // the operator's scaled-prefix device (scale=6)
      s"""WITH h AS (SELECT event_type, make_timestamp(epoch_us(ts)
        |    - epoch_us(ts) % 3600000000) AS hour_start, count(*) AS c
        |  FROM events GROUP BY event_type, 2),
        |st AS (SELECT avg(c) AS mu,
        |  sqrt(avg(c * c) - avg(c) * avg(c)) AS sd FROM h),
        |p AS (SELECT event_type, hour_start, c,
        |  CAST(sum(CAST(floor(c * 1000000.0 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY event_type
        |      ORDER BY hour_start ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / 1000000.0
        |    - CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY hour_start) AS DOUBLE)
        |      * (st.mu + 0.5 * st.sd) AS pp, st.sd
        |  FROM h, st),
        |s AS (SELECT event_type,
        |  pp - least(0, min(pp) OVER (PARTITION BY event_type
        |    ORDER BY hour_start ROWS UNBOUNDED PRECEDING)) AS cus, sd
        |  FROM p)
        |SELECT event_type, count(*) AS n_buckets,
        |  max(${Grid.snapSql("greatest(cus, 0.0)", 4)}) AS peak_cusum,
        |  CAST(sum(CASE WHEN cus >= 4.0 * sd THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_drift
        |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin),

    // RFM segmentation: recency / frequency / monetary quartiles per
    // customer (deterministic NTILE tie-breaks), segments rolled up
    // with their profile — the classic CRM cut as three windows over
    // one per-customer aggregate.
    "q184_rfm_segments" -> Query((s, dir) => {
      val o = T(s, dir, "orders")
      val maxDate = o.agg(max(to_date(col("o_orderdate"))).as("mx"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("f"), sum(col("o_totalprice")).as("m"))
        .crossJoin(broadcast(maxDate))
        .withColumn("r", datediff(col("mx"), col("last_order")))
      val R = graft.operators.Ranks
      val seg = R.withGlobalNtile(
        R.withGlobalNtile(
          R.withGlobalNtile(per,
            Seq(col("r"), col("o_custkey")), 4, "rq"),
          Seq(col("f").desc, col("o_custkey")), 4, "fq"),
        Seq(col("m").desc, col("o_custkey")), 4, "mq")
      seg.groupBy(concat(col("rq"), col("fq"), col("mq")).as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          round(avg(col("r")), 2).as("avg_recency_days"),
          round(avg(col("f")), 2).as("avg_orders"),
          round(avg(col("m")), 2).as("avg_monetary"))
        .orderBy(col("segment"))
    },
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mx
        |  FROM orders),
        |per AS (SELECT o_custkey,
        |    max(CAST(o_orderdate AS DATE)) AS last_order,
        |    count(*) AS f, sum(o_totalprice) AS m
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT per.*, datediff('day', last_order, mx.mx) AS r
        |  FROM per, mx),
        |seg AS (SELECT r, f, m,
        |  ntile(4) OVER (ORDER BY r, o_custkey) AS rq,
        |  ntile(4) OVER (ORDER BY f DESC, o_custkey) AS fq,
        |  ntile(4) OVER (ORDER BY m DESC, o_custkey) AS mq FROM r)
        |SELECT CAST(rq AS VARCHAR) || CAST(fq AS VARCHAR)
        |    || CAST(mq AS VARCHAR) AS segment,
        |  count(*) AS n_customers,
        |  round(avg(r), 2) AS avg_recency_days,
        |  round(avg(f), 2) AS avg_orders,
        |  round(avg(m), 2) AS avg_monetary
        |FROM seg GROUP BY 1 ORDER BY segment""".stripMargin),

    // Pareto / ABC concentration: per nation, the minimum customer
    // count covering 80% of revenue, and the revenue share of the top
    // decile — ordered running sums, one window per nation. Revenue is
    // summed as EXACT cents (2-decimal grid → BIGINT): the running sum
    // and the 80%-coverage comparison are then pure integer arithmetic,
    // immune to the engines' differing float-accumulation trees
    // (Spark sequential vs DuckDB segment tree — the q254 r11 class).
    "q185_pareto_revenue" -> Query((s, dir) => {
      val rev = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
        .join(T(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
          Seq("o_custkey"))
        .join(broadcast(T(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
          Seq("c_nationkey"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("rev_c").desc, col("o_custkey"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(col("n_name"))
      val ranked = rev
        .withColumn("cum", sum(col("rev_c")).over(run))
        .withColumn("tot", sum(col("rev_c")).over(all))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(all))
      ranked.groupBy(col("n_name"))
        .agg(any_value(col("n")).as("n_customers"),
          // (cum − rev) < 0.8·tot, cleared of the float 0.8:
          // 5·(cum − rev) < 4·tot — all-integer, engine-exact
          sum(when((col("cum") - col("rev_c")) * 5 <
            lit(4L) * col("tot"), 1L).otherwise(0L)).as("n_top80"),
          graft.functions.Grid.snap(
            sum(when(col("rn") * 10 <= col("n"), col("rev_c"))
              .otherwise(0L)).cast("double") /
              any_value(col("tot")).cast("double"), 4)
            .as("top_decile_share"))
        .orderBy(col("n_name"))
    },
      // exact-cents mirror of the Spark side: integer running sums are
      // order-free, so the segment-tree/sequential-fold split is moot
      s"""WITH rev AS (SELECT o_custkey,
        |  sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS rev_c
        |  FROM orders GROUP BY o_custkey),
        |j AS (SELECT n.n_name, rev.o_custkey, rev.rev_c FROM rev
        |  JOIN customer c ON c.c_custkey = rev.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |rk AS (SELECT n_name, o_custkey, rev_c,
        |  CAST(sum(rev_c) OVER (PARTITION BY n_name
        |    ORDER BY rev_c DESC, o_custkey
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |  CAST(sum(rev_c) OVER (PARTITION BY n_name) AS BIGINT) AS tot,
        |  row_number() OVER (PARTITION BY n_name
        |    ORDER BY rev_c DESC, o_custkey) AS rn,
        |  count(*) OVER (PARTITION BY n_name) AS n FROM j)
        |SELECT n_name, max(n) AS n_customers,
        |  CAST(sum(CASE WHEN (cum - rev_c) * 5 < 4 * tot
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_top80,
        |  ${Grid.snapSql(
             "CAST(sum(CASE WHEN rn * 10 <= n THEN rev_c ELSE 0 END) " +
               "AS DOUBLE) / CAST(max(tot) AS DOUBLE)", 4)}
        |    AS top_decile_share
        |FROM rk GROUP BY n_name ORDER BY n_name""".stripMargin),

    // Referential / value integrity audit — the data-quality report a
    // pipeline runs before trusting a drop: orphan lineitems, empty
    // orders, non-positive quantities/prices, and orders whose
    // totalprice disagrees with the lineitem roll-up beyond a cent.
    "q186_quality_audit" -> Query((s, dir) => {
      val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem")
      val orphans = l.join(o.select(col("o_orderkey")
          .as("l_orderkey")), Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphan_lineitems"))
      val empty = o.join(l.select(col("l_orderkey")
          .as("o_orderkey")), Seq("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_empty_orders"))
      val badVals = l.agg(
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L))
          .as("n_bad_quantity"),
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L))
          .as("n_bad_price"))
      val rollup = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).as("computed"))
      val mismatch = o.join(rollup,
          col("o_orderkey") === col("l_orderkey"))
        .agg(sum(when(abs(col("o_totalprice") - col("computed")) > 0.01,
          1L).otherwise(0L)).as("n_total_mismatch"))
      orphans.crossJoin(empty).crossJoin(badVals).crossJoin(mismatch)
    },
      """SELECT
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |    ON o.o_orderkey = l.l_orderkey WHERE o.o_orderkey IS NULL)
        |    AS n_orphan_lineitems,
        |  (SELECT count(*) FROM orders o LEFT JOIN
        |    (SELECT DISTINCT l_orderkey FROM lineitem) l
        |    ON l.l_orderkey = o.o_orderkey WHERE l.l_orderkey IS NULL)
        |    AS n_empty_orders,
        |  (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
        |    AS n_bad_quantity,
        |  (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0)
        |    AS n_bad_price,
        |  (SELECT count(*) FROM orders o JOIN
        |    (SELECT l_orderkey, sum(l_extendedprice * (1.0 - l_discount)
        |       * (1.0 + l_tax)) AS computed FROM lineitem
        |     GROUP BY l_orderkey) r ON r.l_orderkey = o.o_orderkey
        |    WHERE abs(o.o_totalprice - r.computed) > 0.01)
        |    AS n_total_mismatch""".stripMargin),

    // Bounce rate over native session windows (30 min gap): sessions
    // with a single event / all sessions, plus depth stats — one
    // session_window aggregation + one scalar roll-up.
    "q187_bounce_rate" -> Query((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_ev"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounce"),
          round(sum(when(col("n_ev") === 1, 1L).otherwise(0L)) /
            count(lit(1)).cast("double"), 4).as("bounce_rate"),
          round(avg(col("n_ev")), 4).as("avg_session_events")),
      """WITH g AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |se AS (SELECT user_id, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM g),
        |sz AS (SELECT user_id, sess, count(*) AS n_ev FROM se
        |  GROUP BY user_id, sess)
        |SELECT count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  round(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS bounce_rate,
        |  round(avg(n_ev), 4) AS avg_session_events
        |FROM sz""".stripMargin),

    // Population Stability Index of the weekly event-type mix against
    // week 1 — the ML-monitoring drift metric:
    // PSI = Σ (p−q)·ln(p/q) over add-α-smoothed category shares.
    // Exact count ratios; ln the only libm call.
    "q188_psi_drift" -> Query((s, dir) => {
      val ev = events(s, dir)
        .withColumn("week", to_date(date_trunc("week", col("ts"))))
      val weeks = graft.CacheScope.register(
        ev.groupBy(col("week"), col("event_type"))
          .agg(count(lit(1)).as("c")).persist())
      val firstWeek = ev.agg(min(col("week"))).head().getDate(0)
      val alpha = 0.5
      val refC = weeks.filter(col("week") === lit(firstWeek))
        .select(col("event_type"), col("c").as("rc"))
      val refTot = refC.agg(sum(col("rc"))).head().getLong(0)
      val cats = refC.count()
      val curWeeks = weeks.filter(col("week") =!= lit(firstWeek))
      val curTot = curWeeks.groupBy(col("week")).agg(sum(col("c"))
        .as("wt"))
      // full (week × ref-category) grid so a category MISSING from a
      // week still contributes its smoothed term
      curTot.crossJoin(broadcast(refC))
        .join(curWeeks, Seq("week", "event_type"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("p", (col("c") + alpha) /
          (col("wt") + lit(alpha * cats)))
        .withColumn("q", (col("rc") + alpha) /
          lit(refTot + alpha * cats))
        .groupBy(col("week"))
        .agg(round(sum((col("p") - col("q")) * log(col("p") / col("q"))),
          4).as("psi"), count(lit(1)).as("n_cats"))
        .orderBy(col("week"))
    },
      // full (week x ref-category) grid; add-0.5 smoothing on both sides
      """WITH ev AS (SELECT date_trunc('week', ts) AS week, event_type
        |  FROM events),
        |wk AS (SELECT week, event_type, count(*) AS c FROM ev
        |  GROUP BY week, event_type),
        |fw AS (SELECT min(week) AS w0 FROM wk),
        |ref AS (SELECT event_type, c AS rc FROM wk, fw
        |  WHERE week = fw.w0),
        |rt AS (SELECT sum(rc) AS t, count(*) AS k FROM ref),
        |cw AS (SELECT week, sum(c) AS wt FROM wk, fw
        |  WHERE week <> fw.w0 GROUP BY week),
        |grid AS (SELECT cw.week, cw.wt, ref.event_type, ref.rc,
        |    coalesce(w2.c, 0) AS c
        |  FROM cw CROSS JOIN ref LEFT JOIN wk w2
        |    ON w2.week = cw.week AND w2.event_type = ref.event_type),
        |tt AS (SELECT week, (c + 0.5) / (wt + 0.5 * rt.k) AS p,
        |  (rc + 0.5) / (rt.t + 0.5 * rt.k) AS q FROM grid, rt)
        |SELECT week, round(sum((p - q) * ln(p / q)), 4) AS psi,
        |  count(*) AS n_cats
        |FROM tt GROUP BY week ORDER BY week""".stripMargin),

    // Funnel step-gap profile: exact integer minutes between
    // consecutive completed steps, summarized by nearest-rank lower
    // median and p90 — where the conversion time actually goes.
    "q189_funnel_gaps" -> Query((s, dir) => {
      val times = graft.operators.Funnel.funnelTimes(events(s, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        horizon = "24 hours")
      def gapMins(a: Column, b: Column): Column = {
        val d = unix_micros(b) - unix_micros(a)
        ((d - pmod(d, lit(60000000L))) / lit(60000000L)).cast("long")
      }
      val gaps = times.filter(col("t2").isNotNull)
        .select(lit("view_to_click").as("step_pair"),
          gapMins(col("t1"), col("t2")).as("gap_min"))
        .unionByName(times.filter(col("t3").isNotNull)
          .select(lit("click_to_purchase").as("step_pair"),
            gapMins(col("t2"), col("t3")).as("gap_min")))
      val w = Window.partitionBy(col("step_pair"))
        .orderBy(col("gap_min"))
      val all = Window.partitionBy(col("step_pair"))
      gaps
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(all))
        .groupBy(col("step_pair"))
        .agg(any_value(col("n")).as("n_users"),
          // nearest-rank: lower median and ceil(0.9 n)
          min(when(col("rn") * 2 >= col("n"), col("gap_min")))
            .as("median_min"),
          min(when(col("rn") * 10 >= col("n") * 9, col("gap_min")))
            .as("p90_min"))
        .orderBy(col("step_pair"))
    },
      // the q154 anchored chain carrying (anchor, t2, t3); nearest-rank
      // cuts pick the min qualifying value (tie-safe)
      """WITH u1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |u2 AS (SELECT e.user_id, any_value(u1.t1) AS anchor,
        |    min(e.ts) AS t2
        |  FROM events e JOIN u1 ON u1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > u1.t1
        |    AND e.ts <= u1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
        |u3 AS (SELECT e.user_id, any_value(u2.t2) AS t2, min(e.ts) AS t3
        |  FROM events e JOIN u2 ON u2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
        |    AND e.ts <= u2.anchor + INTERVAL 24 HOUR GROUP BY e.user_id),
        |g AS (SELECT 'view_to_click' AS step_pair,
        |    (epoch_us(t2) - epoch_us(anchor)) // 60000000 AS gap_min
        |  FROM u2
        |  UNION ALL SELECT 'click_to_purchase',
        |    (epoch_us(t3) - epoch_us(t2)) // 60000000 FROM u3),
        |r AS (SELECT step_pair, gap_min, row_number() OVER
        |    (PARTITION BY step_pair ORDER BY gap_min) AS rn,
        |  count(*) OVER (PARTITION BY step_pair) AS n FROM g)
        |SELECT step_pair, max(n) AS n_users,
        |  min(CASE WHEN rn * 2 >= n THEN gap_min END) AS median_min,
        |  min(CASE WHEN rn * 10 >= n * 9 THEN gap_min END) AS p90_min
        |FROM r GROUP BY step_pair ORDER BY step_pair""".stripMargin),

    // Classifier threshold sweep: precision / recall / F1 of the q117
    // NB scores at nine fixed decision thresholds — the operating-
    // curve table an eval harness reads.
    "q190_threshold_sweep" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("is_en", col("lang") === "en")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.QualityClassifier.train(
        docs.filter(split), "doc_id", "text", "is_en")
      val scored = graft.operators.QualityClassifier.score(
        docs.filter(!split), "doc_id", "text", model)
      import s.implicits._
      val taus = (-4 to 4).map(_ * 0.5)
      scored
        .crossJoin(broadcast(taus.toDF("tau")))
        .groupBy(col("tau"))
        .agg(
          sum(when(col("score") > col("tau") && col("is_en"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("score") > col("tau") && !col("is_en"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("score") <= col("tau") && col("is_en"), 1L)
            .otherwise(0L)).as("fn"))
        .withColumn("precision", when(col("tp") + col("fp") > 0,
          round(col("tp") / (col("tp") + col("fp")).cast("double"), 4)))
        .withColumn("recall", when(col("tp") + col("fn") > 0,
          round(col("tp") / (col("tp") + col("fn")).cast("double"), 4)))
        .withColumn("f1", when(col("tp") > 0,
          round(lit(2.0) * col("tp") /
            (lit(2.0) * col("tp") + col("fp") + col("fn")), 4)))
        .orderBy(col("tau"))
    },
      HashOracles.q190ThresholdSweep(8000, 1.0,
      (-4 to 4).map(_ * 0.5))),

    // Exact ROC AUC by the mid-rank Mann-Whitney identity:
    // AUC = (Σ_pos midrank − P(P+1)/2) / (P·N), midranks from one
    // (score, id) window + one per-score average — ties handled the
    // textbook way, no curve integration.
    "q191_roc_auc" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("is_en", col("lang") === "en")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.QualityClassifier.train(
        docs.filter(split), "doc_id", "text", "is_en")
      val scored = graft.operators.QualityClassifier.score(
          docs.filter(!split), "doc_id", "text", model)
        .select(col("doc_id"), col("score"), col("is_en"))
      val ranked = graft.operators.Ranks.withGlobalRowNumber(scored,
          Seq(col("score"), col("doc_id")), "rn")
        .withColumn("midrank",
          avg(col("rn").cast("double"))
            .over(Window.partitionBy(col("score"))))
      ranked.agg(
          sum(when(col("is_en"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(!col("is_en"), 1L).otherwise(0L)).as("n_neg"),
          sum(when(col("is_en"), col("midrank"))).as("rank_sum"))
        .select(col("n_pos"), col("n_neg"),
          round((col("rank_sum") -
            col("n_pos") * (col("n_pos") + 1) / 2.0) /
            (col("n_pos") * col("n_neg")).cast("double"), 4).as("auc"))
    },
      HashOracles.q191RocAuc(8000, 1.0)),

    // Stratified matched controls: every English doc paired with its
    // nearest non-English doc by length WITHIN its source — the
    // experimental-design matching primitive as one stratum-keyed
    // window pass (no join). Integer covariate → exact distances.
    "q192_matched_controls" -> Query((s, dir) =>
      graft.operators.Sampling.matchedControls(
          T(s, dir, "documents")
            .withColumn("treated", col("lang") === "en"),
          "doc_id", "treated", "n_chars", "source")
        .orderBy(col("treated_id")),
      // same windows, same ignore-nulls semantics, same tie rule
      """WITH d AS (SELECT source, doc_id, n_chars,
        |  lang = 'en' AS treated FROM documents),
        |n AS (SELECT *,
        |  last_value(CASE WHEN NOT treated THEN
        |      struct_pack(v := n_chars, id := doc_id) END IGNORE NULLS)
        |    OVER (PARTITION BY source ORDER BY n_chars, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b,
        |  first_value(CASE WHEN NOT treated THEN
        |      struct_pack(v := n_chars, id := doc_id) END IGNORE NULLS)
        |    OVER (PARTITION BY source ORDER BY n_chars, doc_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS a
        |  FROM d),
        |m AS (SELECT source, doc_id, n_chars,
        |  CASE WHEN b IS NULL THEN a WHEN a IS NULL THEN b
        |    WHEN abs(n_chars - b.v) < abs(a.v - n_chars) THEN b
        |    WHEN abs(a.v - n_chars) < abs(n_chars - b.v) THEN a
        |    ELSE b END AS mt
        |  FROM n WHERE treated)
        |SELECT source, doc_id AS treated_id, n_chars AS treated_value,
        |  mt.id AS control_id, mt.v AS control_value,
        |  abs(n_chars - mt.v) AS match_distance
        |FROM m WHERE mt IS NOT NULL ORDER BY treated_id""".stripMargin),

    // Dedup yield curve: exact-Jaccard histogram over the capped pair
    // slice on the INTEGER-EXACT (20·|∩|) div |∪| grid, with the
    // cumulative from the top — "set τ here, drop this many pairs".
    // The curve an operator reads before choosing the dedup threshold;
    // pair rule is the declared q43-family capped baseline.
    "q193_dedup_yield" -> Query((s, dir) => {
      val t = T(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), array_distinct(toks(col("text"))).as("tk"))
      val pairs = t.as("a").join(t.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(
          size(array_intersect(col("a.tk"), col("b.tk"))).cast("long")
            .as("i"),
          size(array_distinct(concat(col("a.tk"), col("b.tk"))))
            .cast("long").as("u"))
      val i20 = col("i") * 20
      val bucketed = pairs
        .withColumn("bucket",
          ((i20 - pmod(i20, col("u"))) / col("u")).cast("int"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"))
      graft.operators.Ranks.withOrderedPrefixScan(bucketed,
          Seq(col("bucket").desc),
          Seq("n_pairs" -> "cum_at_or_above"))
        .orderBy(col("bucket"))
    },
      // integer-exact (20*i) div u buckets; cumulative from the top
      s"""WITH t AS (SELECT doc_id, list_distinct($ToksSql) AS tk
         |  FROM documents WHERE doc_id < 200),
         |p AS (SELECT len(list_intersect(a.tk, b.tk)) AS i,
         |    len(list_distinct(list_concat(a.tk, b.tk))) AS u
         |  FROM t a, t b WHERE a.doc_id < b.doc_id),
         |bk AS (SELECT CAST((i * 20) // u AS INTEGER) AS bucket,
         |  count(*) AS n_pairs FROM p GROUP BY 1)
         |SELECT bucket, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_at_or_above
         |FROM bk ORDER BY bucket""".stripMargin),

    // Sessionized funnel: view→click→purchase must complete INSIDE one
    // 30-min-gap session — the q32 gaps-and-islands session id becomes
    // the funnel partition key, and the chained-min algebra runs at
    // (user, session) grain. Tighter than q154's 24 h anchor: the
    // "within one visit" conversion.
    "q194_session_funnel" -> Query((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      // PINNED: three funnel branches (view/click/purchase) consume
      // the sessionized spine — uncached each would re-run the
      // user-keyed lag + running-sum windows over the whole stream
      val sess = graft.CacheScope.register(events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
              1800000000L, 1L).otherwise(0L))
        .withColumn("sess", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .persist())
      val v = sess.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("sess"))
        .agg(min(col("ts")).as("t1"))
      val c = sess.filter(col("event_type") === "click")
        .select(col("user_id"), col("sess"), col("ts").as("cts"))
        .join(v, Seq("user_id", "sess"))
        .filter(col("cts") > col("t1"))
        .groupBy(col("user_id"), col("sess"))
        .agg(min(col("cts")).as("t2"))
      val p = sess.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sess"), col("ts").as("pts"))
        .join(c, Seq("user_id", "sess"))
        .filter(col("pts") > col("t2"))
        .groupBy(col("user_id"), col("sess"))
        .agg(min(col("pts")).as("t3"))
      // ONE driver action for all three step counts: left-join the
      // funnel chain at (user, sess) grain and count non-nulls in a
      // single aggregation — three separate count() jobs would replay
      // the chain (and its session windows) once per step
      val r = v.join(c, Seq("user_id", "sess"), "left")
        .join(p, Seq("user_id", "sess"), "left")
        .agg(count(lit(1)).as("nv"), count(col("t2")).as("nc"),
          count(col("t3")).as("np"))
        .head()
      val (nv, nc, np) = (r.getAs[Long]("nv"), r.getAs[Long]("nc"),
        r.getAs[Long]("np"))
      import s.implicits._
      Seq(("1_view", nv), ("2_click", nc), ("3_purchase", np))
        .toDF("step", "n_sessions")
        .withColumn("conv_from_first",
          round(col("n_sessions") / lit(nv).cast("double"), 4))
        .orderBy(col("step"))
    },
      // q32's session ids as the funnel partition; chained per-session
      // mins
      """WITH se AS (SELECT user_id, event_type, ts,
        |  sum(CASE WHEN prev_ts IS NULL OR
        |      epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM (SELECT user_id, event_type, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts FROM events)),
        |v AS (SELECT user_id, sess, min(ts) AS t1 FROM se
        |  WHERE event_type = 'view' GROUP BY user_id, sess),
        |c AS (SELECT s2.user_id, s2.sess, min(s2.ts) AS t2
        |  FROM se s2 JOIN v ON v.user_id = s2.user_id
        |    AND v.sess = s2.sess
        |  WHERE s2.event_type = 'click' AND s2.ts > v.t1
        |  GROUP BY s2.user_id, s2.sess),
        |p AS (SELECT s3.user_id, s3.sess, min(s3.ts) AS t3
        |  FROM se s3 JOIN c ON c.user_id = s3.user_id
        |    AND c.sess = s3.sess
        |  WHERE s3.event_type = 'purchase' AND s3.ts > c.t2
        |  GROUP BY s3.user_id, s3.sess),
        |n AS (SELECT (SELECT count(*) FROM v) AS nv,
        |  (SELECT count(*) FROM c) AS nc,
        |  (SELECT count(*) FROM p) AS np)
        |SELECT '1_view' AS step, nv AS n_sessions,
        |  round(CAST(nv AS DOUBLE) / nv, 4) AS conv_from_first FROM n
        |UNION ALL SELECT '2_click', nc,
        |  round(CAST(nc AS DOUBLE) / nv, 4) FROM n
        |UNION ALL SELECT '3_purchase', np,
        |  round(CAST(np AS DOUBLE) / nv, 4) FROM n
        |ORDER BY step""".stripMargin),

    // Trending terms: per slice, the 3 tokens whose in-slice share
    // most exceeds their corpus-wide share (lift on exact count
    // ratios, count floor 5) — the burst/emerging-terms readout. The
    // slice key here is a deterministic doc_id partition (the corpus
    // carries no timestamps); swap in a real week column unchanged.
    "q195_trending_terms" -> Query((s, dir) => {
      // tokenize-once: the (week, token) explode feeds BOTH count
      // grains — per-slice and corpus-wide — so it is scope-cached
      // (one documents scan), and the corpus total folds from the
      // (week, token) aggregate rather than a separate count() job
      // over the raw explode (zero extra driver actions)
      val tok = graft.CacheScope.register(T(s, dir, "documents")
        .withColumn("week", pmod(col("doc_id"), lit(4L)))
        .select(col("week"), explode(toks(col("text"))).as("token"))
        .persist())
      val wk = tok.groupBy(col("week"), col("token"))
        .agg(count(lit(1)).as("c"))
      val wkTot = wk.groupBy(col("week")).agg(sum(col("c")).as("wt"))
      val tot = tok.groupBy(col("token")).agg(count(lit(1)).as("ct"))
      val n = wkTot.agg(sum(col("wt")).as("n"))
      val scored = wk.filter(col("c") >= 5)
        .join(wkTot, Seq("week"))
        .join(tot, Seq("token"))
        .crossJoin(broadcast(n))
        .withColumn("lift",
          round((col("c") * col("n")).cast("double") /
            (col("wt") * col("ct")), 4))
      val byWeek = Window.partitionBy(col("week"))
        .orderBy(col("lift").desc, col("token"))
      scored
        .withColumn("rn", row_number().over(byWeek))
        .filter(col("rn") <= 3)
        .select(col("week"), col("rn"), col("token"), col("c"),
          col("lift"))
        .orderBy(col("week"), col("rn"))
    },
      // slice key is plain pmod on the raw id — no hash mixing needed
      s"""WITH tok AS (SELECT doc_id % 4 AS week,
         |  unnest($ToksSql) AS token FROM documents),
         |wk AS (SELECT week, token, count(*) AS c FROM tok
         |  GROUP BY week, token),
         |wt AS (SELECT week, sum(c) AS wt FROM wk GROUP BY week),
         |ct AS (SELECT token, count(*) AS ct FROM tok GROUP BY token),
         |nn AS (SELECT count(*) AS n FROM tok),
         |sc AS (SELECT wk.week, wk.token, wk.c,
         |  round(CAST(wk.c * nn.n AS DOUBLE) / (wt.wt * ct.ct), 4)
         |    AS lift
         |  FROM wk JOIN wt USING (week) JOIN ct USING (token), nn
         |  WHERE wk.c >= 5),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY week
         |  ORDER BY lift DESC, token) AS INTEGER) AS rn FROM sc)
         |SELECT week, rn, token, c, lift FROM r WHERE rn <= 3
         |ORDER BY week, rn""".stripMargin),

    // EXACT set-similarity join via prefix filtering (AllPairs/PPJoin)
    // over 5-gram shingles — recall 1.0 by the prefix-filter theorem,
    // candidates an equi-join on prefix elements only: the exact-scale
    // counterpart to q18's probabilistic MinHash candidates and the
    // production path for q20's capped quadratic baseline. All
    // threshold math on the 1e-6 integer grid (cross-multiplied).
    "q196_prefix_jaccard_join" -> Query((s, dir) =>
      SetSimJoin.jaccardJoin(T(s, dir, "documents"), "doc_id", "text",
          tauMicros = 800000L, n = 5)
        .orderBy(col("a_id"), col("b_id")),
      // prefix-filter chain replayed verbatim: df-ascending global order,
      // integer ceil-division prefix length, cross-multiplied length and
      // similarity filters, list_intersect verify
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |el AS (SELECT DISTINCT doc_id, elem FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
         |    THEN list_transform(range(0, len(t) - 4),
         |      i -> array_to_string(t[i + 1 : i + 5], ' '))
         |    ELSE [array_to_string(t, ' ')] END) AS elem FROM tok)),
         |dfb AS (SELECT elem, count(*) AS df FROM el GROUP BY elem),
         |ln AS (SELECT doc_id, count(*) AS len FROM el GROUP BY doc_id),
         |srt AS (SELECT e.doc_id, e.elem, l.len,
         |    row_number() OVER (PARTITION BY e.doc_id
         |      ORDER BY d.df, e.elem) AS rn
         |  FROM el e JOIN dfb d USING (elem) JOIN ln l USING (doc_id)),
         |pf AS (SELECT * FROM srt
         |  WHERE rn <= len - ((800000 * len + 999999) // 1000000) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |    a.len AS la, b.len AS lb
         |  FROM pf a JOIN pf b ON a.elem = b.elem AND a.doc_id < b.doc_id
         |  WHERE 800000 * greatest(a.len, b.len)
         |    <= 1000000 * least(a.len, b.len)),
         |arr AS (SELECT doc_id, list_sort(list(elem)) AS es
         |  FROM el GROUP BY doc_id),
         |v AS (SELECT c.a_id, c.b_id,
         |    CAST(len(list_intersect(x.es, y.es)) AS BIGINT) AS n_intersect,
         |    c.la + c.lb - len(list_intersect(x.es, y.es)) AS n_union
         |  FROM cand c JOIN arr x ON x.doc_id = c.a_id
         |  JOIN arr y ON y.doc_id = c.b_id)
         |SELECT a_id, b_id, n_intersect, n_union,
         |  round(CAST(n_intersect AS DOUBLE) / n_union, 4) AS jac
         |FROM v WHERE 1000000 * n_intersect >= 800000 * n_union
         |ORDER BY a_id, b_id""".stripMargin),

    // Kaplan–Meier time-to-purchase with ADMINISTRATIVE censoring:
    // duration = days from a user's first event to first purchase;
    // users not purchasing within the 5-day window are censored AT
    // the window (never counted as failures at the horizon — the
    // error naive conversion rates make). Segmented by each user's
    // first event type; the curve table is bounded by distinct
    // durations, windows run over it only.
    "q197_kaplan_meier" -> Query((s, dir) => {
      val subj = graft.operators.Survival.conversionSubjects(
        events(s, dir), "user_id", "ts", "event_id",
        col("event_type"), col("event_type") === "purchase",
        windowDays = 5)
      graft.operators.Survival.kaplanMeier(
          subj, "segment", "duration_days", "converted")
        .orderBy(col("segment"), col("t"))
    },
      // KM replay: first-event segment, integer-micros horizon, risk sets
      // by reverse cumsum, the product as exp∘sum∘ln with the d=n zero
      // absorbed explicitly (never through the log path)
      """WITH e1 AS (SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |seg AS (SELECT user_id, event_type AS segment FROM e1
        |  WHERE rn = 1),
        |pu AS (SELECT user_id, min(ts) AS t0,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tc
        |  FROM events GROUP BY user_id),
        |hz AS (SELECT CAST(max(ts) AS DATE) AS h FROM events),
        |subj AS (SELECT s.segment,
        |    CASE WHEN dp IS NOT NULL AND dp <= 5 THEN dp
        |      ELSE least(5, obs) END AS dur,
        |    dp IS NOT NULL AND dp <= 5 AS ev
        |  FROM (SELECT user_id,
        |      CAST(date_diff('day', CAST(t0 AS DATE), CAST(tc AS DATE))
        |        AS BIGINT) AS dp,
        |      CAST(date_diff('day', CAST(t0 AS DATE), hz.h)
        |        AS BIGINT) AS obs FROM pu, hz) d
        |  JOIN seg s USING (user_id)),
        |bd AS (SELECT segment, dur AS t,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events,
        |    CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_censored
        |  FROM subj GROUP BY 1, 2),
        |tt AS (SELECT segment, CAST(sum(n_events + n_censored) AS BIGINT)
        |    AS tot
        |  FROM bd GROUP BY 1),
        |rk AS (SELECT bd.*, CAST(tt.tot
        |    - coalesce(sum(n_events + n_censored)
        |    OVER (PARTITION BY bd.segment ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n_risk
        |  FROM bd JOIN tt USING (segment)),
        |sv AS (SELECT *, CASE WHEN max(CASE WHEN n_events >= n_risk
        |      THEN 1 ELSE 0 END) OVER w = 1 THEN 0.0
        |    ELSE round(exp(CAST(sum(CASE WHEN n_events < n_risk
        |      THEN CAST(floor(ln(1 - CAST(n_events AS DOUBLE) / n_risk)
        |        * 1000000000.0 + 0.5) AS BIGINT)
        |      ELSE 0 END) OVER w AS DOUBLE) / 1000000000.0), 4)
        |    END AS survival
        |  FROM rk WINDOW w AS (PARTITION BY segment ORDER BY t
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT segment, t, n_risk, n_events, n_censored, survival
        |FROM sv WHERE n_events > 0 ORDER BY segment, t""".stripMargin),

    // CUPED variance reduction: pre-period spend (first half of the
    // window) predicts experiment-period spend (second half), θ pooled
    // and 6-dp-pinned, per-arm means preserved while variance shrinks.
    // Arms are a deterministic user_id parity — swap in a real
    // assignment column unchanged.
    "q198_cuped" -> Query((s, dir) =>
      graft.operators.Abtest.cupedSummary(cupedUnits(s, dir),
          "arm", "x", "y")
        .orderBy(col("arm")),
      // CUPED replay: per-user pre/post sums on the money grid, pooled
      // θ from raw sums rounded to 6 dp BEFORE the adjustment, per-arm
      // sample variances from explicit sums
      (CupedUnitsSql +
      """,
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy FROM u),
        |ad AS (SELECT u.arm, u.y,
        |    u.y - round((st.sxy - st.sx * st.sy / st.n) /
        |        (st.sxx - st.sx * st.sx / st.n), 6) *
        |      (u.x - st.sx / st.n) AS ya
        |  FROM u, st)
        |SELECT arm, count(*) AS n,
        |  round(sum(y) / count(*), 4) AS mean_y,
        |  round(sum(ya) / count(*), 4) AS mean_y_cuped,
        |  round((sum(y * y) - sum(y) * sum(y) / count(*)) /
        |    (count(*) - 1), 4) AS var_y,
        |  round((sum(ya * ya) - sum(ya) * sum(ya) / count(*)) /
        |    (count(*) - 1), 4) AS var_y_cuped
        |FROM ad GROUP BY arm ORDER BY arm""".stripMargin)),

    // Two-stage retrieval: IVF-PQ cuts the corpus to 50 code-scored
    // candidates, then ONLY those 50 pay the exact full-precision dot
    // (equi-join back to the float vectors) — the production
    // RAG/search shape where the float table is touched for C rows,
    // never the corpus. Full train→assign→probe→ADC→rerank replay.
    "q199_ivf_pq_rerank" -> Query((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val model = Similarity.trainPq(emb, "vec_id", "embedding",
        m = 16, k = 16, iters = 2)
      val qv = emb.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
      val enc = Similarity.pqEncode(
        Similarity.assignLists(emb, "embedding", nLists = 16),
        "vec_id", "embedding", model)
      Similarity.ivfPqTopKReranked(enc, emb, "vec_id", "embedding",
        qv, model, k = 10, nCandidates = 50, nLists = 16, nProbe = 4)
    },
      HashOracles.q199IvfPqRerank(16, 16, 64, 16, 4, 50, 10)),

    // Capstone #15: RAG context assembly — two-stage retrieval (q199
    // verbatim) joins the documents table and packs the context window
    // greedily in relevance order until the 256-token budget closes;
    // straddling docs are dropped WHOLE (no partial documents in a
    // prompt). The windows run over the 10-row retrieval result only.
    "q200_rag_context" -> Query((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val model = Similarity.trainPq(emb, "vec_id", "embedding",
        m = 16, k = 16, iters = 2)
      val qv = emb.filter(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
      val enc = Similarity.pqEncode(
        Similarity.assignLists(emb, "embedding", nLists = 16),
        "vec_id", "embedding", model)
      val rr = Similarity.ivfPqTopKReranked(enc, emb, "vec_id",
        "embedding", qv, model, k = 10, nCandidates = 50,
        nLists = 16, nProbe = 4)
      val joined = rr.join(T(s, dir, "documents"),
          col("vec_id") === col("doc_id"))
        .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      graft.operators.Ranks.withOrderedPrefixScan(joined,
          Seq(col("exact_score").desc, col("vec_id")),
          Seq("n_tokens" -> "cum_tokens"), idxCol = "__rk")
        .withColumn("rank", col("__rk").cast("int"))
        .filter(col("cum_tokens") <= 256)
        .select(col("rank"), col("vec_id"), col("n_tokens"),
          col("cum_tokens"), col("exact_score"))
        .orderBy(col("rank"))
    },
      HashOracles.q200RagContext(16, 16, 64, 16, 4, 50, 10, 256)),

    // First-order Markov transition matrix over per-user event
    // streams: ONE keyed lead window, |types|²-bounded output, exact
    // count-ratio probabilities.
    "q201_markov_transitions" -> Query((s, dir) =>
      graft.operators.Markov.transitionMatrix(events(s, dir),
          "user_id", "ts", "event_id", "event_type")
        .withColumn("p", round(col("p"), 6))
        .orderBy(col("from_state"), col("to_state")),
      """WITH seq AS (SELECT user_id, event_type, ts, event_id,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt FROM events),
        |tp AS (SELECT event_type AS from_state, nxt AS to_state,
        |    count(*) AS n FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_state, sum(n) AS t FROM tp GROUP BY 1)
        |SELECT tp.from_state, tp.to_state, tp.n,
        |  round(CAST(tp.n AS DOUBLE) / tot.t, 6) AS p
        |FROM tp JOIN tot USING (from_state)
        |ORDER BY 1, 2""".stripMargin),

    // Long-run state mix: 8 power-iteration rounds on the bounded
    // transition table, π grid-pinned at 1e-6 per round — where event
    // traffic settles, the next-event-prediction prior.
    "q202_markov_stationary" -> Query((s, dir) =>
      graft.operators.Markov.stationaryDistribution(
          graft.operators.Markov.transitionMatrix(events(s, dir),
            "user_id", "ts", "event_id", "event_type"), iters = 8)
        .orderBy(col("state")),
      markovStationaryOracle(8)),

    // Behavioral anomaly: sessions (q32's 30-min gap islands) become
    // event-type "sentences", a bigram LM trained on ALL sessions
    // scores each one, bottom-10 = the sessions whose event order the
    // corpus's own dynamics find least plausible. NgramLm runs
    // UNCHANGED on non-text symbols — the operator is domain-generic.
    "q203_session_lm_anomaly" -> Query((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sess = events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
              1800000000L, 1L).otherwise(0L))
        .withColumn("sess", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val corpus = sess.groupBy(col("user_id"), col("sess"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), " ").as("text"))
        .select(concat(col("user_id"), lit("_"), col("sess")).as("sid"),
          col("text"))
      val lm = graft.operators.NgramLm.train(corpus, "sid", "text")
      graft.operators.NgramLm.logProbScore(corpus, "sid", "text", lm)
        .orderBy(col("avg_lp"), col("sid"))
        .limit(10)
    },
      // q194's session CTE + deterministic in-session event ordering +
      // the q100 bigram-LM pattern with train = score = the session
      // corpus; bottom-10 by (avg_lp, sid)
      """WITH se AS (SELECT user_id, event_type, ts, event_id,
        |  sum(CASE WHEN prev_ts IS NULL OR
        |      epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM (SELECT user_id, event_type, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts FROM events)),
        |co AS (SELECT user_id || '_' || sess AS sid,
        |    string_split(array_to_string(
        |      list(event_type ORDER BY ts, event_id), ' '), ' ') AS t
        |  FROM se GROUP BY user_id, sess),
        |uni AS (SELECT w AS l, count(*) AS c1 FROM
        |  (SELECT unnest(t) AS w FROM co) GROUP BY w),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS vs FROM uni),
        |bi AS (SELECT l, r, count(*) AS c2 FROM
        |  (SELECT t[j] AS l, t[j + 1] AS r FROM
        |    (SELECT t, unnest(range(1, len(t))) AS j FROM co))
        |  GROUP BY l, r),
        |tep AS (SELECT sid, t[j] AS l, t[j + 1] AS r FROM
        |  (SELECT sid, t, unnest(range(1, len(t))) AS j FROM co)),
        |sc AS (SELECT p.sid,
        |  ln((coalesce(b.c2, 0) + 0.4) / (coalesce(u.c1, 0) + 0.4 * v.vs))
        |    AS lp
        |  FROM tep p
        |  LEFT JOIN bi b ON b.l = p.l AND b.r = p.r
        |  LEFT JOIN uni u ON u.l = p.l
        |  CROSS JOIN v)
        |SELECT sid, CAST(count(*) AS BIGINT) AS n_grams,
        |  round(avg(lp), 4) AS avg_lp
        |FROM sc GROUP BY sid ORDER BY avg_lp, sid LIMIT 10""".stripMargin),

    // Cumulative gains / lift deciles over the q191 NB classifier's
    // held-out scores: score-desc NTILE(10) with id tie-break, per
    // decile the positive capture rate and lift vs the base rate —
    // "how much of the good stuff do the top-k% hold". Decile
    // accounting windows run over the 10-row table only.
    "q204_gains_deciles" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("is_en", col("lang") === "en")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.QualityClassifier.train(
        docs.filter(split), "doc_id", "text", "is_en")
      val scored = graft.operators.QualityClassifier.score(
          docs.filter(!split), "doc_id", "text", model)
        .select(col("doc_id"), col("score"), col("is_en"))
      val d = graft.operators.Ranks.withGlobalNtile(scored,
          Seq(col("score").desc, col("doc_id")), 10, "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_en"), 1L).otherwise(0L)).as("n_pos"))
      val t = d.agg(sum(col("n")).as("__tn"),
        sum(col("n_pos")).as("__tp"))
      graft.operators.Ranks.withOrderedPrefixScan(
          d.crossJoin(broadcast(t)), Seq(col("decile")),
          Seq("n_pos" -> "cum_pos"))
        .select(col("decile"), col("n"), col("n_pos"), col("cum_pos"),
          round(col("cum_pos") / col("__tp").cast("double"), 4)
            .as("capture"),
          round((col("n_pos") / col("n").cast("double")) /
            (col("__tp") / col("__tn").cast("double")), 4).as("lift"))
        .orderBy(col("decile"))
    },
      HashOracles.q204GainsDeciles(8000, 1.0)),

    // Benford first-digit audit on order totals — the fraud /
    // synthetic-data smell test. First digit from the integer-part
    // string head; the digit table is ≤ 9 rows.
    "q205_benford_audit" -> Query((s, dir) =>
      graft.operators.Robust.benfordProfile(
          T(s, dir, "orders"), "o_totalprice")
        .orderBy(col("digit")),
      """WITH d AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |    count(*) AS n
        |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM d)
        |SELECT digit, n,
        |  round(n / CAST(tot AS DOUBLE), 6) AS frac,
        |  round(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit),
        |    6) AS benford_p,
        |  round(n / CAST(tot AS DOUBLE) -
        |    log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit), 6)
        |    AS dev
        |FROM d, t ORDER BY digit""".stripMargin),

    // Winsorized means per order priority: nearest-rank-ceiling
    // percentile boundaries in integer arithmetic, tails CLAMPED not
    // dropped — the robust revenue readout heavy-tailed totals need.
    "q206_winsorized_means" -> Query((s, dir) =>
      graft.operators.Robust.winsorizedProfile(
          T(s, dir, "orders"), "o_orderpriority", "o_orderkey",
          "o_totalprice", pctLow = 5, pctHigh = 95)
        .orderBy(col("grp")),
      """WITH r AS (SELECT o_orderpriority AS grp, o_totalprice AS v,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS nn
        |  FROM orders),
        |b AS (SELECT grp,
        |    max(CASE WHEN rn = (nn * 5 + 99) // 100 THEN v END) AS lo,
        |    max(CASE WHEN rn = (nn * 95 + 99) // 100 THEN v END) AS hi
        |  FROM r GROUP BY grp)
        |SELECT r.grp, count(*) AS n, b.lo, b.hi,
        |  round(sum(v) / count(*), 4) AS mean_raw,
        |  round(sum(greatest(b.lo, least(b.hi, v))) / count(*), 4)
        |    AS mean_winsorized
        |FROM r JOIN b USING (grp)
        |GROUP BY r.grp, b.lo, b.hi ORDER BY r.grp""".stripMargin),

    // Position-based (U-shaped) multi-touch attribution: each purchase
    // credits its 24-h lookback touches 0.4/0.2.../0.4 by position —
    // between q141's last-touch as-of join and a linear split. Credit
    // is an exact function of integer ranks; pairing is a user-keyed
    // equi-join bounded by per-user event counts.
    "q207_multitouch_attribution" -> Query((s, dir) =>
      graft.operators.Attribution.positionBased(events(s, dir),
          "user_id", "ts", "event_id", "event_type",
          col("event_type") === "purchase",
          col("event_type").isin("view", "click", "signup"),
          windowMicros = 86400000000L)
        .orderBy(col("channel")),
      // position weights as the exact double arithmetic the Spark side
      // uses: mid mass = 1.0 − 0.4 − 0.4 evaluated in doubles
      """WITH cv AS (SELECT user_id, epoch_us(ts) AS ct, event_id AS cid
        |  FROM events WHERE event_type = 'purchase'),
        |tc AS (SELECT user_id, epoch_us(ts) AS tt, event_id AS tid,
        |    event_type AS channel
        |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |p AS (SELECT tc.channel,
        |    row_number() OVER (PARTITION BY cv.user_id, cv.cid
        |      ORDER BY tc.tt, tc.tid) AS rn,
        |    count(*) OVER (PARTITION BY cv.user_id, cv.cid) AS k
        |  FROM tc JOIN cv ON tc.user_id = cv.user_id
        |    AND tc.tt < cv.ct AND tc.tt >= cv.ct - 86400000000)
        |SELECT channel, count(*) AS n_touches,
        |  round(sum(CASE WHEN k = 1 THEN CAST(1.0 AS DOUBLE)
        |    WHEN k = 2 THEN CAST(0.5 AS DOUBLE)
        |    WHEN rn = 1 THEN CAST(0.4 AS DOUBLE)
        |    WHEN rn = k THEN CAST(0.4 AS DOUBLE)
        |    ELSE (CAST(1.0 AS DOUBLE) - CAST(0.4 AS DOUBLE)
        |      - CAST(0.4 AS DOUBLE)) / (k - 2) END), 4) AS credit
        |FROM p GROUP BY channel ORDER BY channel""".stripMargin),

    // Distributed PCA: ONE corpus pass reduces the embeddings to the
    // d²-bounded covariance table (map-side outer products fused with
    // partial aggregation — the shuffle carries cells, not rows), then
    // 8 power-iteration rounds on that bounded table, grid-pinned.
    // The anisotropy readout behind whitening decisions.
    "q208_pca_top_component" -> Query((s, dir) =>
      graft.operators.Pca.topComponent(
          graft.operators.Pca.covarianceMatrix(
            T(s, dir, "embeddings"), "embedding"), iters = 8)
        .orderBy(col("i")),
      pcaOracle(64, 8)),

    // Anisotropy by source: every embedding's scalar projection onto
    // the q208 component, rolled up per document source — whether one
    // source's vectors sit off-axis (encoder drift / modality mix).
    // Projection = posexplode + d-row broadcast join + id-grain agg.
    "q209_pca_source_projection" -> Query((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val comp = graft.operators.Pca.topComponent(
        graft.operators.Pca.covarianceMatrix(emb, "embedding"),
        iters = 8)
      val proj = graft.operators.Pca.projectOnto(
        emb, "vec_id", "embedding", comp)
      proj.join(T(s, dir, "documents"),
          col("vec_id") === col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("proj")).as("__sp"),
          sum(col("proj") * col("proj")).as("__spp"))
        .select(col("source"), col("n"),
          round(col("__sp") / col("n"), 4).as("mean_proj"),
          round((col("__spp") - col("__sp") * col("__sp") / col("n")) /
            (col("n") - 1), 4).as("var_proj"))
        .orderBy(col("source"))
    },
      (pcaWith(64, 8) +
      """,
        |pr AS (SELECT e.vec_id, sum(e.v[ld.i] * ld.loading) AS proj
        |  FROM e, ld GROUP BY e.vec_id)
        |SELECT d.source, count(*) AS n,
        |  round(sum(proj) / count(*), 4) AS mean_proj,
        |  round((sum(proj * proj) - sum(proj) * sum(proj) / count(*)) /
        |    (count(*) - 1), 4) AS var_proj
        |FROM pr JOIN documents d ON d.doc_id = pr.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact edit-distance linkage over distinct part names: q-gram
    // prefiltered candidates + levenshtein verify — recall 1.0 by the
    // gram-count bound. The ORACLE is an independent quadratic DuckDB
    // implementation (the q141 native-engine device), so the gate
    // proves the prefilter admits no false negatives.
    // Readability/complexity profile per source: vowel-run syllable
    // proxy (the Flesch/SMOG input) — avg syllables per word and
    // polysyllabic fraction; word-quality screening at one explode +
    // one partial-agg shuffle.
    // Margin mining, production path: the q150 ratio-margin scoring
    // over the IVF-bounded candidate space (6-assignment into 64
    // TRAINED centroid lists — the q87 training chain) — per-list
    // populations bound the join to Σ n_ℓ² (measured ~half the pair
    // space even on this deliberately unclustered synthetic fixture;
    // real embedding corpora cluster and drop much further, and
    // nLists ∝ n keeps it linear — ScaleProbe). q150 stays the
    // declared exact baseline; best-match recall between the two
    // (0.91 here) is measured in SimilaritySpec.
    // Mergeable quantile sketch, oracled end-to-end: per-source
    // bottom-k-by-id-hash uniform-sample registers (k=16 < the 25-doc
    // groups, so the SKETCH path — not the exact small-group shortcut
    // — is what gates), nearest-rank readout over the sample, with the
    // exact per-source quantiles joined as audit columns. State is k
    // rows per source forever; the exact side is the corpus-grain
    // keyed-window device kept for comparison.
    "q220_quantile_sketch" -> Query((s, dir) => {
      import s.implicits._
      val d = T(s, dir, "documents")
      val regs = graft.operators.QuantileSketch.sampleRegistersBy(
        d, "source", "doc_id", "n_chars", 16)
      val est = graft.operators.QuantileSketch.sampleQuantilesBy(
        regs, Seq(50, 90, 99))
      val pcts = Seq(50, 90, 99).toDF("pct")
      val ex = d.filter(col("n_chars").isNotNull)
        .withColumn("i", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("n_chars"))))
        .withColumn("n_docs", count(lit(1)).over(
          Window.partitionBy(col("source"))))
        .crossJoin(broadcast(pcts))
        .filter(col("i") === expr("(pct * n_docs + 99) DIV 100"))
        .select(col("source"), col("pct"), col("n_docs"),
          col("n_chars").cast("long").as("q_exact"))
      est.select(col("key").as("source"), col("pct"), col("n_kept"),
          col("q_est"))
        .join(ex, Seq("source", "pct"))
        .select(col("source"), col("pct"), col("n_docs"), col("n_kept"),
          col("q_est"), col("q_exact"))
        .orderBy(col("source"), col("pct"))
    },
      HashOracles.q220QuantileSketch(16)),

    // DAU/WAU stickiness: rolling distinct users via the explode
    // device — each active day keeps its user weekly-active for 7
    // calendar days (bounded x7 fan-out), so WAU is a plain
    // count-distinct at day grain, no sliding distinct state.
    "q294_stickiness" -> Query((s, dir) =>
      graft.operators.Sessionize.stickiness(events(s, dir),
          "user_id", "ts")
        .orderBy(col("day")),
      """WITH dy AS (SELECT DISTINCT user_id AS u,
        |  epoch_us(ts) // 86400000000 AS d FROM events
        |  WHERE ts IS NOT NULL),
        |dau AS (SELECT d AS day, count(DISTINCT u) AS dau FROM dy
        |  GROUP BY 1),
        |wx AS (SELECT u, unnest(range(d, d + 7)) AS day FROM dy),
        |wau AS (SELECT day, count(DISTINCT u) AS wau FROM wx
        |  GROUP BY day)
        |SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
        |  CAST(w.wau AS BIGINT) AS wau,
        |  round(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
        |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin),

    // "Customers also bought": the q164 pair associations turned into
    // the operational per-item top-5 recommendation list — pairs
    // oriented both ways, rank in a window keyed by item over its
    // bounded partner set.
    "q293_also_bought" -> Query((s, dir) =>
      graft.operators.Basket.alsoBought(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", k = 5, maxBasketSize = 20,
          minPairCount = 2)
        .orderBy(col("item"), col("rank")),
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |sz AS (SELECT b, count(*) AS sz FROM it GROUP BY b),
        |cap AS (SELECT it.* FROM it JOIN sz USING (b) WHERE sz <= 20),
        |nb AS (SELECT count(DISTINCT b) AS n FROM cap),
        |ic AS (SELECT i, count(*) AS c_item FROM cap GROUP BY i),
        |p AS (SELECT a.i AS ia, b2.i AS ib,
        |  CAST(count(*) AS BIGINT) AS c_ab
        |  FROM cap a JOIN cap b2 USING (b) WHERE a.i < b2.i
        |  GROUP BY a.i, b2.i HAVING count(*) >= 2),
        |pl AS (SELECT p.ia, p.ib, p.c_ab,
        |  round(CAST(p.c_ab * nb.n AS DOUBLE)
        |    / (ca.c_item * cb.c_item), 4) AS lift
        |  FROM p JOIN ic ca ON ca.i = p.ia
        |  JOIN ic cb ON cb.i = p.ib, nb),
        |bi AS (SELECT ia AS item, ib AS partner, c_ab, lift FROM pl
        |  UNION ALL SELECT ib, ia, c_ab, lift FROM pl),
        |r AS (SELECT *, row_number() OVER (PARTITION BY item
        |  ORDER BY c_ab DESC, partner) AS rank FROM bi)
        |SELECT item, CAST(rank AS INTEGER) AS rank, partner, c_ab,
        |  lift
        |FROM r WHERE rank <= 5 ORDER BY item, rank""".stripMargin),

    // Poisson burst detection: per-type daily counts scored against
    // a 24-period trailing baseline (the period excluded from its
    // own baseline), z = (c - mu)/sqrt(mu) — the spike alarm beside
    // q183's slow-drift CUSUM. Cold starts stay unscored.
    "q292_burst_detection" -> Query((s, dir) =>
      graft.operators.Robust.poissonBursts(
          events(s, dir).withColumn("day",
            expr("unix_micros(ts) div 86400000000")),
          "event_type", "day", window = 24, minBaseline = 8,
          threshold = 4.0)
        .orderBy(col("event_type"), col("period")),
      """WITH c AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS period, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(period AS BIGINT) AS period,
        |  CAST(n AS BIGINT) AS n,
        |  count(*) OVER w AS bl_n,
        |  round(CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w, 6)
        |    AS mu
        |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY period
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, period, n, mu,
        |  round((n - mu) / sqrt(mu), 4) AS z,
        |  (round((n - mu) / sqrt(mu), 4) >= 4.0e0) AS is_burst
        |FROM s WHERE bl_n >= 8
        |ORDER BY event_type, period""".stripMargin),

    // Z-order layout MAINTENANCE: the 1998+ delta appends under the
    // creation-time stats pinned in the layout's sidecar (an
    // out-of-band stat would shear the bucket function); out-of-range
    // delta values clamp to edge codes. The disk profile must equal
    // the pinned-stats computation over the union — the q273/q287
    // fold-invisibility contract for the layout family.
    "q296_zorder_append" -> Query((s, dir) => {
      val orders = T(s, dir, "orders")
        .withColumn("day", datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1992-01-01"))))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q296_zorder").getAbsolutePath
      val Z = graft.operators.ZOrder
      Z.writeZOrdered(orders.filter(year(col("o_orderdate")) <= 1997),
        Seq("o_custkey", "day"), bits = 8, nBuckets = 16, path)
      Z.appendZOrdered(orders.filter(year(col("o_orderdate")) > 1997),
        path)
      Z.diskProfile(s, path).orderBy(col("bucket"))
    },
      // the append is invisible: the oracle computes stats from the
      // CREATION slice only, then buckets the whole table with the
      // clamped codes
      {
      val z = (0 until 8).flatMap { b =>
        Seq(s"((nx // ${1L << b}) % 2) * ${1L << (2 * b)}",
          s"((ny // ${1L << b}) % 2) * ${1L << (2 * b + 1)}")
      }.mkString(" + ")
      s"""WITH d AS (SELECT o_custkey AS ck,
         |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         |    AS day, year(CAST(o_orderdate AS DATE)) AS yr FROM orders),
         |st AS (SELECT min(ck) AS mnc, max(ck) AS mxc,
         |  min(day) AS mnd, max(day) AS mxd FROM d WHERE yr <= 1997),
         |n AS (SELECT ck, day,
         |  least(greatest(((ck - mnc) * 256) // (mxc - mnc + 1), 0),
         |    255) AS nx,
         |  least(greatest(((day - mnd) * 256) // (mxd - mnd + 1), 0),
         |    255) AS ny FROM d, st),
         |z AS (SELECT ck, day, $z AS zv FROM n),
         |b AS (SELECT ck, day, (zv * 16) // 65536 AS bucket FROM z)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(min(ck) AS BIGINT) AS min_o_custkey,
         |  CAST(max(ck) AS BIGINT) AS max_o_custkey,
         |  CAST(min(day) AS BIGINT) AS min_day,
         |  CAST(max(day) AS BIGINT) AS max_day
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    }),

    // Leave-one-out kNN label accuracy: the embedding-quality eval —
    // does the space separate the classes before any training run
    // spends on it? Majority vote over the k nearest in-list
    // neighbors, smaller-label ties, per-label accuracy.
    "q295_knn_accuracy" -> Query((s, dir) =>
      Similarity.knnLabelAccuracy(T(s, dir, "embeddings"), "vec_id",
        "embedding", "label", k = 8, nLists = 8),
      HashOracles.q295KnnAccuracy(8)),

    // Embedding-space outliers: vectors whose k nearest IN-LIST
    // neighbors are all far — the curation triad's third leg beside
    // near-dup removal and diverse selection. Bottom-20 heap on the
    // ordered-fold kNN similarity; isolated vectors read -1.
    "q291_embedding_outliers" -> Query((s, dir) =>
      Similarity.embeddingOutliers(T(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, nLists = 8, bottomN = 20),
      HashOracles.q291EmbeddingOutliers(8, 20)),

    // Rolling-origin backtest of the Holt forecaster: three cutoffs,
    // fit on history, point-forecast 7 ahead, score against the
    // window's mean actual — the evaluation loop a forecast is
    // worthless without. One fold per (priority, cutoff).
    "q290_forecast_backtest" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Forecast.backtestHolt(daily, "o_orderpriority",
          "day", "rev", cutoffs = Seq(1500L, 1800L, 2100L),
          alpha = 0.3, beta = 0.1, horizon = 7)
        .orderBy(col("o_orderpriority"), col("cutoff"))
    },
      HashOracles.q290ForecastBacktest(Seq(1500L, 1800L, 2100L), 7)),

    // Wilcoxon signed-rank on paired spend: did the SAME users spend
    // differently across the month's halves, in magnitude-rank terms?
    // The paired-continuous companion to q313 — zeros drop, |d| takes
    // pooled midranks on the distributed sort-rank device, exact
    // doubled-rank moments, one snapped z.
    "q316_wilcoxon" -> Query((s, dir) => {
      val day = datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01")))
      val paired = events(s, dir).groupBy(col("user_id"))
        .agg(
          round(sum(when(day < 15, col("value")).otherwise(0.0)), 2)
            .as("y1"),
          round(sum(when(day >= 15, col("value")).otherwise(0.0)), 2)
            .as("y2"))
      graft.operators.Abtest.wilcoxonSignedRank(paired, "user_id",
        "y1", "y2")
    },
      HashOracles.q316Wilcoxon),

    // Chi-square independence over the segment x priority
    // contingency: are customer segments routed to order priorities
    // independently? Exact-long cells and totals, expected values as
    // single divisions of exact products, cell terms folded in
    // (row, col) order — by-construction replay.
    "q317_chi2_independence" -> Query((s, dir) => {
      val u = T(s, dir, "orders")
        .join(T(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
      graft.operators.Abtest.chiSquareIndependence(u, "c_mktsegment",
        "o_orderpriority")
    },
      HashOracles.q317Chi2Independence),

    // Changepoint on the events stream — the q254 exact scaled-
    // integer prefix device exercised at USER grain (hundreds of
    // groups with DIFFERENT series lengths, vs q254's 5 priorities):
    // per-user daily event counts, scale=0 declares the integer
    // count grid, so the prefix sums are exact integers on any
    // engine and the segment-tree divergence class (the r11 red)
    // cannot return silently under a future refactor.
    "q318_changepoint_users" -> Query((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("user_id"),
          datediff(to_date(col("ts")),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("day"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Robust.changePoint(daily, "user_id", "day",
          "cnt", scale = 0)
        .orderBy(col("user_id"))
    },
      // the q254 device at user grain: counts are ALREADY integers
      // (scale=0 — the scaler is the identity), so the prefix sums run
      // as exact HUGEINTs and both engines agree bit-for-bit however
      // their window sums associate
      {
      val mb = Grid.snapSql(
        "CAST(sk AS DOUBLE) / (CAST(i AS DOUBLE) * 1.0)", 4)
      val ma = Grid.snapSql(
        "CAST(sn - sk AS DOUBLE) / (CAST(n - i AS DOUBLE) * 1.0)", 4)
      s"""WITH d AS (SELECT user_id AS k,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |    AS BIGINT) AS t,
        |  CAST(count(*) AS HUGEINT) AS sc
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT k, t,
        |  CAST(row_number() OVER (PARTITION BY k ORDER BY t)
        |    AS BIGINT) AS i,
        |  sum(sc) OVER (PARTITION BY k ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS sk,
        |  sum(sc) OVER (PARTITION BY k) AS sn,
        |  CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n FROM d),
        |sc2 AS (SELECT *,
        |  ${Grid.snapSql(
             "CAST(abs(sk * n - i * sn) AS DOUBLE) / " +
               "(CAST(n AS DOUBLE) * 1.0)")}
        |    AS score
        |  FROM w WHERE n >= 2 AND i < n),
        |best AS (SELECT *, row_number() OVER (PARTITION BY k
        |  ORDER BY score DESC, i) AS rn FROM sc2)
        |SELECT k AS user_id, n, t AS t_split, score,
        |  $mb AS mean_before,
        |  $ma AS mean_after,
        |  ${Grid.snapSql(s"($ma) - ($mb)", 4)} AS delta
        |FROM best WHERE rn = 1 ORDER BY user_id""".stripMargin
    }),

    // Cross-lingual EXACT dedup: documents whose diacritic-folded,
    // order-collapsed token SET is identical across ≥ 2 language
    // labels — mirrored/translated boilerplate a per-language dedup
    // would keep once PER language. One hash aggregation on the
    // folded fingerprint; linear at any corpus size.
    "q319_crosslingual_dedup" -> Query((s, dir) =>
      graft.operators.CrossLingual.crossLingualClusters(
        T(s, dir, "documents"), "doc_id", "text", "lang")
        .orderBy(col("fp")),
      // folded-fingerprint replay: the same lower → translate →
      // collapse fold, sorted distinct tokens, md5 (NULL on an empty
      // folded token set — empty-fold docs never cluster) — one hash
      // aggregate
      s"""WITH f AS (SELECT doc_id, lang,
        |  ${HashOracles.FoldedFpSql} AS fp
        |  FROM documents)
        |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  min(doc_id) AS canonical_id,
        |  array_to_string(list_sort(list_distinct(list(lang))), ',')
        |    AS langs
        |FROM f WHERE fp IS NOT NULL GROUP BY fp
        |HAVING count(*) >= 2 AND count(DISTINCT lang) >= 2
        |ORDER BY fp""".stripMargin),

    // Cross-lingual NEAR-dup pairs: MinHash-banded candidates over
    // the FOLDED text, token-set Jaccard ≥ 0.8, language labels must
    // differ; read out per language pair. avg_j totals exact
    // 1e-6-grid integers (an unordered float sum is accumulation-
    // tree-dependent across engines); max is order-free.
    "q320_crosslingual_neardup" -> Query((s, dir) =>
      graft.operators.CrossLingual.crossLingualNearDupPairs(
        T(s, dir, "documents"), "doc_id", "text", "lang",
        threshold = 0.8)
        .groupBy(col("lang_a"), col("lang_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(floor(col("jaccard") * 1e6 + 0.5).cast("long"))
            .as("__jsc"),
          max(col("jaccard")).as("max_j"))
        .select(col("lang_a"), col("lang_b"), col("n_pairs"),
          graft.functions.Grid.snap(col("__jsc").cast("double") /
            (col("n_pairs").cast("double") * 1e6), 4).as("avg_j"),
          col("max_j"))
        .orderBy(col("lang_a"), col("lang_b")),
      HashOracles.q320CrossLingualNearDup(0.8)),

    // ONLINE changepoint (Page–Hinkley) per event type over hourly
    // event counts — the streaming companion to q318's offline
    // localizer: O(1) state per key, folded once in t-order through
    // the aggregate HOF (sequential on BOTH engines — list folds
    // have no accumulation tree to diverge), m re-snapped at 1e-6
    // per step.
    "q321_page_hinkley" -> Query((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Robust.pageHinkley(hourly, "event_type", "hr",
          "cnt", delta = 0.5, lambda = 10.0)
        .orderBy(col("event_type"))
    },
      // Page–Hinkley replay: the identical sequential fold as a DuckDB
      // list_reduce (1-based arrays: [i, s, m, mn, ph, at]); both
      // engines fold the ordered list left-to-right, so the raw
      // double count/sum cells agree bit-for-bit and m re-snaps at
      // 1e-6 per step
      {
      val dl = Grid.lit17(0.5)
      val lm = Grid.lit17(10.0)
      val i1 = "(a[1] + 1.0e0)"
      val s1 = "(a[2] + x[2])"
      val m1 = Grid.snapSql(s"a[3] + (x[2] - $s1 / $i1 - $dl)")
      val exc = Grid.snapSql(s"($m1) - least(a[4], $m1)")
      s"""WITH h AS (SELECT event_type,
        |  epoch_us(ts) // 3600000000 AS hr,
        |  CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type,
        |  list([CAST(hr AS DOUBLE), CAST(cnt AS DOUBLE)] ORDER BY hr)
        |    AS sl,
        |  CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1),
        |f AS (SELECT event_type, n,
        |  list_reduce(list_prepend(
        |      [0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, -1.0e0], sl),
        |    (a, x) -> [$i1, $s1, $m1,
        |      least(a[4], $m1),
        |      greatest(a[5], $exc),
        |      CASE WHEN a[6] >= 0.0e0 THEN a[6]
        |        WHEN ($exc) > $lm THEN x[1] ELSE -1.0e0 END]) AS st
        |  FROM s)
        |SELECT event_type, n,
        |  ${Grid.snapSql("st[2] / st[1]", 4)} AS mean,
        |  ${Grid.snapSql("st[5]", 4)} AS ph,
        |  st[5] > 10.0e0 AS drift,
        |  CASE WHEN st[6] >= 0.0e0 THEN CAST(st[6] AS BIGINT) END
        |    AS t_alarm
        |FROM f ORDER BY event_type""".stripMargin
    }),

    // Multilingual α-sampling under a token budget (mC4-style):
    // w_l ∝ T_l^0.3 snapped to exact scaled integers, per-language
    // budgets by integer division, greedy hash-ordered selection via
    // ONE keyed integer window. Deterministic, reproducible cut.
    "q322_language_budget_mix" -> Query((s, dir) =>
      graft.operators.Mixture.languageBudgetMix(
        T(s, dir, "documents"), "doc_id", "text", "lang",
        budgetTokens = 20000L, alpha = 0.3)
        .orderBy(col("lang")),
      HashOracles.q322LanguageBudgetMix(20000L, 0.3)),

    // Does the learned quality filter TRANSFER across domains? The
    // q190 NB filter at its natural operating point (score > 0),
    // read out per SOURCE on the held-out split — the domain-shift
    // audit a filter must pass before it gates a mixed corpus.
    "q324_filter_transfer" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("is_en", col("lang") === "en")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.QualityClassifier.train(
        docs.filter(split), "doc_id", "text", "is_en")
      graft.operators.QualityClassifier.score(
          docs.filter(!split), "doc_id", "text", model)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") > 0 && col("is_en"), 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("score") > 0 && !col("is_en"), 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("score") <= 0 && col("is_en"), 1L)
            .otherwise(0L)).as("fn"))
        .withColumn("precision", when(col("tp") + col("fp") > 0,
          round(col("tp") / (col("tp") + col("fp")).cast("double"), 4)))
        .withColumn("recall", when(col("tp") + col("fn") > 0,
          round(col("tp") / (col("tp") + col("fn")).cast("double"), 4)))
        .withColumn("f1", when(col("tp") > 0,
          round(lit(2.0) * col("tp") /
            (lit(2.0) * col("tp") + col("fp") + col("fn")), 4)))
        .orderBy(col("source"))
    },
      HashOracles.q324FilterTransfer(8000, 1.0)),

    // Seasonal-hybrid ESD anomalies (the Twitter AnomalyDetection
    // shape): q301's additive decomposition carried to PER-POINT
    // residuals, then the robust modified-z test (q145's device) per
    // series — a spike on a naturally-big weekday is NOT an anomaly,
    // a normal value on a quiet slot may be. Medians are rank
    // selections (no float accumulation anywhere in the test stage).
    "q332_seasonal_esd" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      val res = graft.operators.Seasonal.residuals(daily,
        "o_orderpriority", "day", "rev", period = 7, scale = 2)
      graft.operators.Robust.annotateOutliers(res, "o_orderpriority",
          "resid", cutoff = 3.5)
        .filter(col("is_outlier"))
        .select(col("o_orderpriority"), col("day"), col("rev"),
          col("resid"), round(col("mod_z"), 4).as("mod_z"))
        .orderBy(col("o_orderpriority"), col("day"))
    },
      // the q301 trend/register CTEs carried to per-point residuals,
      // then the q145 median/MAD replay per series key
      {
      s"""WITH d AS (SELECT o_orderpriority AS k,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |    AS day, round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY 1, 2),
        |w AS (SELECT k, day, rev,
        |  CAST(floor(rev * 100.0 + 0.5) AS BIGINT) AS c FROM d),
        |t AS (SELECT k, day, rev,
        |  ${Grid.snapSql("CAST(sum(c) OVER win AS DOUBLE) / " +
             "(100.0 * count(*) OVER win)")} AS trend FROM w
        |  WINDOW win AS (PARTITION BY k ORDER BY day
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |se AS (SELECT k, day % 7 AS slot,
        |  ${Grid.snapSql("avg(rev - trend)", 4)} AS seasonal
        |  FROM t GROUP BY 1, 2),
        |r AS (SELECT t.k, t.day, t.rev,
        |  ${Grid.snapSql("(t.rev - t.trend) - se.seasonal", 4)} AS resid
        |  FROM t JOIN se ON se.k = t.k AND se.slot = t.day % 7),
        |med AS (SELECT k, quantile_cont(resid, 0.5) AS med
        |  FROM r GROUP BY k),
        |dd AS (SELECT r.*, med.med FROM r JOIN med USING (k)),
        |sp AS (SELECT k, quantile_cont(abs(resid - med), 0.5) AS mad,
        |  avg(abs(resid - med)) AS mean_ad FROM dd GROUP BY k),
        |z AS (SELECT dd.k, dd.day, dd.rev, dd.resid,
        |  CASE WHEN sp.mad > 0 THEN 0.6745 * (resid - med) / sp.mad
        |       WHEN sp.mean_ad > 0
        |         THEN (resid - med) / (1.253314 * sp.mean_ad)
        |  END AS mod_z
        |  FROM dd JOIN sp USING (k))
        |SELECT k AS o_orderpriority, CAST(day AS INTEGER) AS day,
        |  rev, resid, round(mod_z, 4) AS mod_z
        |FROM z WHERE abs(mod_z) > 3.5
        |ORDER BY o_orderpriority, day""".stripMargin
    }),

    // Mahalanobis multivariate outliers over customer order features
    // (orders, spend cents, max order cents — all exact integers):
    // the correlation-aware outlier screen the per-column z-scores
    // (q145) can't express. One aggregation to a single exact-integer
    // moment row, closed-form 3×3 inverse, map-only d² — top 25 on
    // the snapped grid.
    "q331_mahalanobis_outliers" -> Query((s, dir) => {
      val feats = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("spend_c"),
          max(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("max_c"))
      graft.operators.Robust.mahalanobis3(feats, "o_custkey",
          "n_orders", "spend_c", "max_c")
        .orderBy(col("d2").desc, col("o_custkey"))
        .limit(25)
    },
      // exact HUGEINT moments, then the IDENTICAL fixed expression tree
      // as Robust.mahalanobis3 (covariances → adjugate → det → d²) —
      // every double is a cast of exact integers through the same
      // IEEE program, snapped at the end
      {
      def y(f: String, s: String) =
        s"(CAST(f.$f AS DOUBLE) - CAST(dt.$s AS DOUBLE) / dt.n)"
      val (y1, y2, y3) =
        (y("n_orders", "s1"), y("spend_c", "s2"), y("max_c", "s3"))
      def cov(sij: String, si: String, sj: String) =
        s"(CAST($sij AS DOUBLE) - CAST($si AS DOUBLE) * " +
          s"CAST($sj AS DOUBLE) / n) / (n - 1)"
      s"""WITH ft AS (SELECT o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS spend_c,
        |  CAST(max(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS max_c
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  sum(CAST(n_orders AS HUGEINT)) AS s1,
        |  sum(CAST(spend_c AS HUGEINT)) AS s2,
        |  sum(CAST(max_c AS HUGEINT)) AS s3,
        |  sum(CAST(n_orders AS HUGEINT) * CAST(n_orders AS HUGEINT))
        |    AS s11,
        |  sum(CAST(spend_c AS HUGEINT) * CAST(spend_c AS HUGEINT))
        |    AS s22,
        |  sum(CAST(max_c AS HUGEINT) * CAST(max_c AS HUGEINT)) AS s33,
        |  sum(CAST(n_orders AS HUGEINT) * CAST(spend_c AS HUGEINT))
        |    AS s12,
        |  sum(CAST(n_orders AS HUGEINT) * CAST(max_c AS HUGEINT))
        |    AS s13,
        |  sum(CAST(spend_c AS HUGEINT) * CAST(max_c AS HUGEINT))
        |    AS s23
        |  FROM ft),
        |cv AS (SELECT n, s1, s2, s3,
        |  ${cov("s11", "s1", "s1")} AS ca,
        |  ${cov("s12", "s1", "s2")} AS cb,
        |  ${cov("s13", "s1", "s3")} AS cc,
        |  ${cov("s22", "s2", "s2")} AS cd,
        |  ${cov("s23", "s2", "s3")} AS ce,
        |  ${cov("s33", "s3", "s3")} AS cf FROM m),
        |mx AS (SELECT *, cd * cf - ce * ce AS m11,
        |  cc * ce - cb * cf AS m12, cb * ce - cc * cd AS m13,
        |  ca * cf - cc * cc AS m22, cb * cc - ca * ce AS m23,
        |  ca * cd - cb * cb AS m33 FROM cv),
        |dt AS (SELECT *, ca * m11 + cb * m12 + cc * m13 AS det
        |  FROM mx)
        |SELECT f.o_custkey, f.n_orders, f.spend_c, f.max_c,
        |  ${Grid.snapSql(
             s"(dt.m11 * $y1 * $y1 + dt.m22 * $y2 * $y2 + " +
               s"dt.m33 * $y3 * $y3 + 2.0e0 * (dt.m12 * $y1 * $y2 + " +
               s"dt.m13 * $y1 * $y3 + dt.m23 * $y2 * $y3)) / dt.det",
             4)} AS d2
        |FROM ft f, dt WHERE abs(dt.det) > 1e-9
        |ORDER BY d2 DESC, f.o_custkey LIMIT 25""".stripMargin
    }),

    // INCREMENTAL cross-lingual dedup — the q65 index shape for the
    // folded fingerprint: corpus (< 400) holds the fingerprint index,
    // each delta doc (≥ 400) is flagged with its matched canonical,
    // the matched cluster's language set, and whether the hit is
    // cross-lingual (new doc's language absent from the cluster — the
    // translated-re-crawl signal a streaming ingest dedups on).
    "q330_incremental_crosslingual" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.operators.CrossLingual.flagIncremental(
          docs.filter(col("doc_id") >= 400),
          docs.filter(col("doc_id") < 400),
          "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    },
      // the q319 fold at the <400 corpus split — fingerprint index on
      // the corpus side, left-join probe on the delta side
      {
      s"""WITH f AS (SELECT doc_id, lang,
        |  ${HashOracles.FoldedFpSql} AS fp
        |  FROM documents),
        |cf AS (SELECT fp, min(doc_id) AS matched_id,
        |  list_sort(list_distinct(list(lang))) AS langs
        |  FROM f WHERE doc_id < 400 AND fp IS NOT NULL GROUP BY fp),
        |d AS (SELECT f.doc_id, f.lang, cf.matched_id, cf.langs
        |  FROM f LEFT JOIN cf USING (fp) WHERE f.doc_id >= 400)
        |SELECT doc_id, lang, matched_id IS NOT NULL AS is_dup,
        |  matched_id,
        |  CASE WHEN matched_id IS NOT NULL
        |    THEN array_to_string(langs, ',') END AS matched_langs,
        |  coalesce(matched_id IS NOT NULL
        |    AND NOT list_contains(langs, lang), false)
        |    AS is_cross_lingual
        |FROM d ORDER BY doc_id""".stripMargin
    }),

    // Page–Hinkley on a FRACTIONAL series — the q321 fold device
    // exercised on the q254 daily-revenue shape (5 keys × ~1.7k
    // points, money-grid doubles): list folds are sequential on both
    // engines, so the raw running sum inside the accumulator is
    // portable even for inexact values, and m re-snaps at 1e-6 per
    // step. Two series shapes now gate the device (counts + currency).
    "q329_page_hinkley_revenue" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Robust.pageHinkley(daily, "o_orderpriority",
          "day", "rev", delta = 2000.0, lambda = 100000.0)
        .orderBy(col("o_orderpriority"))
    },
      // the q321 list_reduce fold on the q254 daily-revenue series —
      // sequential on both engines, δ/λ pinned via lit17
      {
      val dl = Grid.lit17(2000.0)
      val lm = Grid.lit17(100000.0)
      val i1 = "(a[1] + 1.0e0)"
      val s1 = "(a[2] + x[2])"
      val m1 = Grid.snapSql(s"a[3] + (x[2] - $s1 / $i1 - $dl)")
      val exc = Grid.snapSql(s"($m1) - least(a[4], $m1)")
      s"""WITH h AS (SELECT o_orderpriority,
        |  CAST(date_diff('day', DATE '1992-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |  round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY 1, 2),
        |s AS (SELECT o_orderpriority,
        |  list([CAST(day AS DOUBLE), CAST(rev AS DOUBLE)] ORDER BY day)
        |    AS sl,
        |  CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1),
        |f AS (SELECT o_orderpriority, n,
        |  list_reduce(list_prepend(
        |      [0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, -1.0e0], sl),
        |    (a, x) -> [$i1, $s1, $m1,
        |      least(a[4], $m1),
        |      greatest(a[5], $exc),
        |      CASE WHEN a[6] >= 0.0e0 THEN a[6]
        |        WHEN ($exc) > $lm THEN x[1] ELSE -1.0e0 END]) AS st
        |  FROM s)
        |SELECT o_orderpriority, n,
        |  ${Grid.snapSql("st[2] / st[1]", 4)} AS mean,
        |  ${Grid.snapSql("st[5]", 4)} AS ph,
        |  st[5] > 100000.0e0 AS drift,
        |  CASE WHEN st[6] >= 0.0e0 THEN CAST(st[6] AS BIGINT) END
        |    AS t_alarm
        |FROM f ORDER BY o_orderpriority""".stripMargin
    }),

    // AUDIO near-dup dedup by two-channel perceptual hash — the q236
    // image device for the audio modality: real WAV bytes (PCM16
    // round-trip is lossless), 32-frame energy + zero-crossing
    // vs-mean bits (exact integer comparisons), banded block join at
    // Hamming ≤ 3 (pigeonhole-lossless with 4 blocks). Corpus =
    // originals ∪ exact copies ∪ slightly-perturbed copies.
    "q328_audio_neardup" -> Query((s, dir) => {
      val base = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor(CAST(v AS DOUBLE) * 10000.0))").as("samples"))
      val copies = base.filter(col("vec_id") % 3 < 2)
        .select((col("vec_id") + lit(100000L)).as("vec_id"),
          expr("CASE WHEN vec_id % 3 = 1 THEN transform(samples, " +
            "(v, i) -> CASE WHEN i % 8 = 0 THEN v + 40 ELSE v END) " +
            "ELSE samples END").as("samples"))
      val wav = graft.operators.Multimodal.encodeWavPcm16(
        base.union(copies), "vec_id", "samples")
      val frames = graft.operators.Multimodal.audioFrameFeatures(
        wav, frameLen = 2)
      graft.operators.MediaDedup.nearDupPairs(
          graft.operators.MediaDedup.audioHash(frames), maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    },
      // PCM16 WAV is lossless, so the oracle recomputes the identical
      // integer bits from the quantized samples: clamp AFTER the
      // perturbation (encodeWavPcm16 clamps last), frames of 2 samples,
      // two-channel vs-mean bits by cross-multiplication, pigeonhole
      // all-pairs at Hamming <= 3 (the q236 convention)
      """WITH base AS (SELECT vec_id AS media_id, i,
        |  CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 10000.0)
        |    AS BIGINT) AS raw
        |  FROM embeddings, range(64) t(i)),
        |corpus AS (SELECT media_id, i,
        |    greatest(-32768, least(32767, raw)) AS v FROM base
        |  UNION ALL
        |  SELECT media_id + 100000, i, greatest(-32768, least(32767,
        |    CASE WHEN media_id % 3 = 1 AND i % 8 = 0
        |      THEN raw + 40 ELSE raw END))
        |  FROM base WHERE media_id % 3 < 2),
        |fr0 AS (SELECT media_id, CAST(i // 2 AS INTEGER) AS f, i, v,
        |  lag(v) OVER (PARTITION BY media_id, i // 2 ORDER BY i) AS p
        |  FROM corpus),
        |fr AS (SELECT media_id, f,
        |  CAST(sum(v * v) AS BIGINT) AS e,
        |  CAST(sum(CASE WHEN p IS NOT NULL AND ((p < 0 AND v >= 0)
        |    OR (p >= 0 AND v < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS z
        |  FROM fr0 WHERE i // 2 < 32 GROUP BY media_id, f),
        |tot AS (SELECT media_id, CAST(count(*) AS BIGINT) AS nf,
        |  CAST(sum(e) AS BIGINT) AS te, CAST(sum(z) AS BIGINT) AS tz
        |  FROM fr GROUP BY media_id),
        |bits AS (SELECT fr.media_id, fr.f,
        |  CASE WHEN fr.e * t.nf > t.te THEN 1 ELSE 0 END AS be,
        |  CASE WHEN fr.z * t.nf > t.tz THEN 1 ELSE 0 END AS bz
        |  FROM fr JOIN tot t USING (media_id)),
        |h AS (SELECT media_id,
        |  CAST(sum(CASE WHEN f // 16 = 0 THEN be * (1::BIGINT <<
        |    CAST(15 - (f % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b0,
        |  CAST(sum(CASE WHEN f // 16 = 1 THEN be * (1::BIGINT <<
        |    CAST(15 - (f % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b1,
        |  CAST(sum(CASE WHEN f // 16 = 0 THEN bz * (1::BIGINT <<
        |    CAST(15 - (f % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b2,
        |  CAST(sum(CASE WHEN f // 16 = 1 THEN bz * (1::BIGINT <<
        |    CAST(15 - (f % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b3
        |  FROM bits GROUP BY media_id)
        |SELECT a.media_id AS a_id, b.media_id AS b_id,
        |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        |    AS INTEGER) AS hamming
        |FROM h a JOIN h b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        |  + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
        |ORDER BY a_id, b_id""".stripMargin),

    // Multilingual corpus-pipeline CAPSTONE (v5): cross-lingual exact
    // dedup (q319's folded fingerprint, canonical = min id survives) →
    // the q99 quality-keep rules → the q322 α-sampling token-budget
    // mix over the survivors. One composition, three shared oracle
    // fragments; the per-language mix is the readout a multilingual
    // pretraining run actually consumes.
    "q327_corpus_pipeline_multilingual" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val clusters = graft.operators.CrossLingual
        .crossLingualClusters(docs, "doc_id", "text", "lang")
        .select(col("fp"), col("canonical_id"))
      val deduped = docs
        .withColumn("fp", graft.operators.CrossLingual
          .foldedFingerprint(col("text")))
        // un-hinted equi-join: the cluster table is dup-mass-bounded,
        // not config-bounded — AQE picks the strategy (the q68 rule)
        .join(clusters, Seq("fp"), "left")
        .filter(col("canonical_id").isNull ||
          col("doc_id") === col("canonical_id"))
      val kept = graft.operators.QualityFilters.keep(
          deduped.withColumn("toks", toks(col("text"))), "text",
          graft.operators.QualityFilters.Thresholds(minTokens = 30,
            maxTokens = 10000, maxDupNgramFraction = 0.05),
          tokensCol = Some("toks"))
        .select(col("doc_id"), col("text"), col("lang"))
      graft.operators.Mixture.languageBudgetMix(kept, "doc_id", "text",
          "lang", budgetTokens = 15000L, alpha = 0.3)
        .orderBy(col("lang"))
    },
      HashOracles.q327MultilingualPipeline(15000L, 0.3)),

    // Cross-lingual dedup YIELD: what the q319 clusters would remove,
    // as the per-language impact report (the q193 dedup-yield readout
    // at cross-language grain) — docs/tokens before, dropped
    // non-canonical mass, token reduction share. The decision artifact
    // behind "is cross-lingual dedup worth a pipeline stage".
    "q326_crosslingual_yield" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val withFp = docs.select(col("doc_id"), col("lang"),
        graft.operators.CrossLingual.foldedFingerprint(col("text"))
          .as("fp"),
        TF.tokenCount(col("text")).cast("long").as("__ntok"))
      val clusters = graft.operators.CrossLingual
        .crossLingualClusters(docs, "doc_id", "text", "lang")
        .select(col("fp"), col("canonical_id"))
      val dropped = withFp
        .join(clusters, Seq("fp"))
        .filter(col("doc_id") =!= col("canonical_id"))
      withFp.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens"))
        .join(dropped.groupBy(col("lang"))
          .agg(count(lit(1)).as("__dd"), sum(col("__ntok")).as("__dt")),
          Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          coalesce(col("__dd"), lit(0L)).as("dropped_docs"),
          coalesce(col("__dt"), lit(0L)).as("dropped_tokens"),
          round(coalesce(col("__dt"), lit(0L)).cast("double") /
            col("n_tokens"), 4).as("token_reduction"))
        .orderBy(col("lang"))
    },
      // the q319 fold + cluster CTEs, joined back for the per-language
      // removed-mass report (canonical = min doc_id keeps its tokens)
      {
      s"""WITH f AS (SELECT doc_id, lang,
        |  ${HashOracles.FoldedFpSql} AS fp,
        |  CAST(len(${HashOracles.Toks}) AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (SELECT fp, min(doc_id) AS canonical_id FROM f
        |  WHERE fp IS NOT NULL GROUP BY fp
        |  HAVING count(*) >= 2 AND count(DISTINCT lang) >= 2),
        |d AS (SELECT f.lang, f.ntok FROM f JOIN c USING (fp)
        |  WHERE f.doc_id <> c.canonical_id),
        |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens FROM f GROUP BY lang),
        |dr AS (SELECT lang, CAST(count(*) AS BIGINT) AS dd,
        |  CAST(sum(ntok) AS BIGINT) AS dt FROM d GROUP BY lang)
        |SELECT t.lang, t.n_docs, t.n_tokens,
        |  CAST(coalesce(dr.dd, 0) AS BIGINT) AS dropped_docs,
        |  CAST(coalesce(dr.dt, 0) AS BIGINT) AS dropped_tokens,
        |  round(CAST(coalesce(dr.dt, 0) AS DOUBLE) / t.n_tokens, 4)
        |    AS token_reduction
        |FROM t LEFT JOIN dr USING (lang) ORDER BY t.lang""".stripMargin
    }),

    // Bitext mining: the q150 ratio-margin criterion restricted to
    // CROSS-LANGUAGE pairs (embeddings 1:1 with documents by id) —
    // each doc's best translation-pair candidate in a DIFFERENT
    // language, the LASER/CCMatrix parallel-corpus device. Langs
    // joined back onto the (x, best_match) readout.
    "q325_bitext_mining" -> Query((s, dir) => {
      val langs = T(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val mined = graft.operators.Similarity.bitextTopMatches(
        T(s, dir, "embeddings").join(langs, Seq("vec_id")),
        "vec_id", "embedding", "lang", k = 8)
      mined
        .join(langs.select(col("vec_id").as("x"),
          col("lang").as("x_lang")), Seq("x"))
        .join(langs.select(col("vec_id").as("best_match"),
          col("lang").as("match_lang")), Seq("best_match"))
        .select(col("x"), col("best_match"), col("cos"), col("margin"),
          col("x_lang"), col("match_lang"))
        .orderBy(col("x"))
    },
      // the q150 margin replay with the cross-language pair constraint
      // and langs joined back onto the winner row
      s"""WITH e AS (SELECT e.vec_id, e.embedding, d.lang
        |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        |p AS (SELECT a.vec_id AS x, b.vec_id AS y,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |    AND a.lang <> b.lang),
        |r AS (SELECT x, y, cos, row_number() OVER (PARTITION BY x
        |  ORDER BY ${Grid.snapSql("cos", 4)} DESC, y) AS rn FROM p),
        |ak AS (SELECT x, avg(cos) AS avg_k FROM r WHERE rn <= 8
        |  GROUP BY x),
        |sc AS (SELECT p.x, p.y, p.cos,
        |  ${Grid.snapSql("p.cos / ((ax.avg_k + ay.avg_k) / 2)", 4)}
        |    AS margin
        |  FROM p JOIN ak ax ON ax.x = p.x JOIN ak ay ON ay.x = p.y),
        |b AS (SELECT x, y, cos, margin, row_number() OVER (PARTITION BY x
        |  ORDER BY margin DESC, y) AS rn FROM sc)
        |SELECT b.x, b.y AS best_match, ${Grid.snapSql("b.cos", 4)} AS cos,
        |  b.margin, ex.lang AS x_lang, ey.lang AS match_lang
        |FROM b JOIN e ex ON ex.vec_id = b.x
        |  JOIN e ey ON ey.vec_id = b.y
        |WHERE b.rn = 1 ORDER BY b.x""".stripMargin),

    // Bitext mining at SCALE — q325's ratio-margin criterion over the
    // q219 trained-IVF candidate space instead of the n² pair table:
    // pairs meet in a shared trained list AND must cross languages,
    // then the identical margin chain. The baseline→production pairing
    // (q150→q219, q89→q95) for parallel-corpus mining; the brute form
    // stays as the bounded-eval contract.
    "q333_bitext_mining_ivf" -> Query((s, dir) => {
      val langs = T(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 64, iters = 2)
      val mined = graft.operators.Similarity.bitextTopMatchesVia(
        e.join(langs, Seq("vec_id")), "vec_id", "embedding", "lang",
        k = 8, cents, nAssign = 6)
      mined
        .join(langs.select(col("vec_id").as("x"),
          col("lang").as("x_lang")), Seq("x"))
        .join(langs.select(col("vec_id").as("best_match"),
          col("lang").as("match_lang")), Seq("best_match"))
        .select(col("x"), col("best_match"), col("cos"), col("margin"),
          col("x_lang"), col("match_lang"))
        .orderBy(col("x"))
    },
      HashOracles.q333BitextMiningIvf(64, 6, 8)),

    // Cross-lingual SEMANTIC near-dup — LASER-style embedding
    // blocking: trained-IVF SemDeDup candidates (q93's device)
    // verified at cosine >= 0.4, kept only across language labels.
    // Catches translated content with ZERO token overlap, which the
    // folded-fingerprint (q319) and MinHash (q320) paths cannot see.
    "q334_xling_semantic_neardup" -> Query((s, dir) => {
      val langs = T(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 16, iters = 2)
      graft.operators.CrossLingual.embeddingDupPairs(
          e.join(langs, Seq("vec_id")), "vec_id", "embedding", "lang",
          threshold = 0.4, cents, nAssign = 2)
        .select(col("a_id"), col("b_id"), col("lang_a"), col("lang_b"),
          graft.functions.Grid.snap(col("cos"), 4).as("cos"))
        .orderBy(col("a_id"), col("b_id"))
    },
      HashOracles.q334XlingSemanticNearDup(16, 2, 0.4)),

    // Bitext mining OPERATING-POINT sweep — the CCMatrix decision
    // artifact: over q333's trained-IVF margin table, how many pairs
    // (and distinct source docs) survive each margin cutoff, per
    // source language. This is how a parallel-corpus build picks θ:
    // precision rises and volume falls with the cutoff; the sweep is
    // one bounded explode over the sparse mined table.
    "q335_bitext_margin_sweep" -> Query((s, dir) => {
      val langs = T(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 64, iters = 2)
      val mined = graft.operators.Similarity.bitextMinedPairsVia(
        e.join(langs, Seq("vec_id")), "vec_id", "embedding", "lang",
        k = 8, cents, nAssign = 6)
      val cuts = Seq(1.00, 1.02, 1.04, 1.06, 1.08)
      mined
        .join(langs.select(col("vec_id").as("x"),
          col("lang").as("x_lang")), Seq("x"))
        .select(col("x"), col("x_lang"), col("margin"),
          explode(array(cuts.map(lit): _*)).as("cutoff"))
        .filter(col("margin") >= col("cutoff"))
        .groupBy(col("cutoff"), col("x_lang"))
        .agg(count(lit(1)).as("n_mined"),
          countDistinct(col("x")).as("n_docs"))
        .orderBy(col("cutoff"), col("x_lang"))
    },
      HashOracles.q335BitextMarginSweep(
      64, 6, 8, Seq(1.00, 1.02, 1.04, 1.06, 1.08))),

    // Script-mix corpus QC: per language label, how much of the text
    // is ASCII letters / digits / non-ASCII codepoints, and how many
    // docs mix Latin with non-ASCII — the audit that would have
    // surfaced the empty-fold class (fully non-Latin docs) BEFORE it
    // reached the dedup stage. Exact integer char-class counts
    // (codepoint semantics agree across engines), ratios snapped.
    "q336_script_profile" -> Query((s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("lang"), length(col("text")).cast("long").as("nc"),
          TF.charClassCount(col("text"), "[A-Za-z]").cast("long")
            .as("lat"),
          TF.charClassCount(col("text"), "[0-9]").cast("long")
            .as("dig"),
          TF.charClassCount(col("text"), "[^\\x00-\\x7F]").cast("long")
            .as("nonasc"))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).as("n_chars"),
          graft.functions.Grid.snap(
            sum(col("lat")).cast("double") / sum(col("nc")), 4)
            .as("latin_ratio"),
          graft.functions.Grid.snap(
            sum(col("dig")).cast("double") / sum(col("nc")), 4)
            .as("digit_ratio"),
          graft.functions.Grid.snap(
            sum(col("nonasc")).cast("double") / sum(col("nc")), 4)
            .as("nonascii_ratio"),
          sum(when(col("lat") > 0 && col("nonasc") > 0, 1L)
            .otherwise(0L)).as("n_mixed_script"))
        .orderBy(col("lang"))
    },
      // exact integer char-class counts per codepoint (both engines'
      // length() counts codepoints), ratios snapped at 4 dp
      s"""WITH d AS (SELECT lang, length(text) AS nc,
        |  length(text) - length(regexp_replace(text,
        |    '[A-Za-z]', '', 'g')) AS lat,
        |  length(text) - length(regexp_replace(text,
        |    '[0-9]', '', 'g')) AS dig,
        |  length(text) - length(regexp_replace(text,
        |    '[^\\x00-\\x7F]', '', 'g')) AS nonasc
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  ${Grid.snapSql("CAST(sum(lat) AS DOUBLE) / sum(nc)", 4)}
        |    AS latin_ratio,
        |  ${Grid.snapSql("CAST(sum(dig) AS DOUBLE) / sum(nc)", 4)}
        |    AS digit_ratio,
        |  ${Grid.snapSql("CAST(sum(nonasc) AS DOUBLE) / sum(nc)", 4)}
        |    AS nonascii_ratio,
        |  CAST(sum(CASE WHEN lat > 0 AND nonasc > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mixed_script
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin),

    // Document-layout features over REAL decoded images — projection-
    // profile page segmentation (the classic OCR X-Y-cut primitive):
    // per-row integer ink from the decoded raster, rows above the
    // page's mean ink flagged as text, maximal runs counted as bands
    // via one keyed lag window. PNG is lossless, so the oracle
    // recomputes identical integers from the embeddings alone.
    "q337_layout_bands" -> Query((s, dir) => {
      val px = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(px, "vec_id", "pixels",
          side = 8), "media_id", "media")
      val prof = graft.operators.Multimodal.rowInkProfile(media)
      val tot = prof.groupBy(col("media_id"))
        .agg(sum(col("ink")).as("__tot"), count(lit(1)).as("__nr"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("row_idx"))
      prof.join(tot, Seq("media_id"))
        .withColumn("__is_text",
          col("ink") * col("__nr") > col("__tot"))
        .withColumn("__starts", (col("__is_text") &&
          coalesce(!lag(col("__is_text"), 1).over(w), lit(true)))
          .cast("long"))
        .groupBy(col("media_id"))
        .agg(sum(when(col("__is_text"), 1L).otherwise(0L))
          .as("n_text_rows"),
          sum(col("__starts")).as("n_bands"),
          min(when(col("__is_text"), col("row_idx")))
            .as("first_text_row"),
          max(when(col("__is_text"), col("row_idx")))
            .as("last_text_row"))
        .orderBy(col("media_id"))
    },
      // layout-band replay from the embeddings alone (PNG lossless):
      // pixel p_i = clamp(floor((v+1)·127.5)), row ink = Σ (255 − p),
      // text rows by exact cross-multiplied mean comparison, band
      // starts via lag — integer arithmetic end to end
      """WITH px AS (SELECT vec_id AS media_id, i,
        |  CAST(greatest(0, least(255, floor((CAST(embedding[i+1]
        |    AS DOUBLE) + 1.0) * 127.5))) AS BIGINT) AS p
        |  FROM embeddings, range(64) t(i)),
        |rws AS (SELECT media_id, CAST(i // 8 AS INTEGER) AS row_idx,
        |  CAST(sum(255 - p) AS BIGINT) AS ink
        |  FROM px GROUP BY 1, 2),
        |tot AS (SELECT media_id, sum(ink) AS tot,
        |  count(*) AS nr FROM rws GROUP BY 1),
        |fl AS (SELECT r.media_id, r.row_idx,
        |  r.ink * t.nr > t.tot AS is_text,
        |  lag(r.ink * t.nr > t.tot) OVER (PARTITION BY r.media_id
        |    ORDER BY r.row_idx) AS prev
        |  FROM rws r JOIN tot t USING (media_id))
        |SELECT media_id,
        |  CAST(sum(CASE WHEN is_text THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_text_rows,
        |  CAST(sum(CASE WHEN is_text AND coalesce(NOT prev, true)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bands,
        |  min(CASE WHEN is_text THEN row_idx END) AS first_text_row,
        |  max(CASE WHEN is_text THEN row_idx END) AS last_text_row
        |FROM fl GROUP BY media_id ORDER BY media_id""".stripMargin),

    // Bitext RECALL eval — does the IVF path find the brute-force
    // best match? Per source language on a 200-doc slice (the
    // bounded-eval contract that makes the n² gold side cheap):
    // gold = q325's exact form, got = q333's trained-IVF form, both
    // over the identical slice. The accept/reject readout for
    // swapping the scale path into a pipeline.
    "q338_bitext_recall" -> Query((s, dir) => {
      val langs = T(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = T(s, dir, "embeddings").filter(col("vec_id") < 200)
      val ev = e.join(langs, Seq("vec_id"))
      val gold = graft.operators.Similarity.bitextTopMatches(
          ev, "vec_id", "embedding", "lang", k = 8)
        .select(col("x"), col("best_match").as("__gold"))
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 16, iters = 2)
      val got = graft.operators.Similarity.bitextTopMatchesVia(
          ev, "vec_id", "embedding", "lang", k = 8, cents, nAssign = 4)
        .select(col("x"), col("best_match").as("__got"))
      gold.join(got, Seq("x"), "left")
        .join(langs.select(col("vec_id").as("x"),
          col("lang").as("x_lang")), Seq("x"))
        .groupBy(col("x_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__got") === col("__gold"), 1L).otherwise(0L))
            .as("n_agree"))
        .withColumn("recall", graft.functions.Grid.snap(
          col("n_agree").cast("double") / col("n_docs"), 4))
        .orderBy(col("x_lang"))
    },
      HashOracles.q338BitextRecall(200, 16, 4, 8)),

    // LSH S-curve eval — is the banding capturing what its analytic
    // curve promises? Over a 150-doc slice: TRUE shingle-set jaccard
    // for every pair (exact integer intersect/union), capture rate of
    // the banded candidates per jaccard decile, next to the textbook
    // 1-(1-s^r)^b at the bin midpoint. The sketch-quality audit run
    // before trusting MinHash bands as the corpus dedup gate.
    "q339_lsh_scurve" -> Query((s, dir) => {
      // natural corpora cluster at jaccard ~0 and ~1; PLANT graded
      // near-copies (drop every k-th token, k = 2..10 by id) so the
      // mid-similarity bins the S-curve is ABOUT are populated —
      // copy k has jaccard ≈ (k-1)/k against its original
      val base = T(s, dir, "documents").filter(col("doc_id") < 150)
      val planted = base.select(
        (col("doc_id") + lit(100000L)).as("doc_id"),
        array_join(expr("filter(" +
          "split(text, '\\\\s+'), " +
          "(t, i) -> i % (2 + doc_id % 9) != 0)"), " ").as("text"))
      val docs = graft.CacheScope.register(
        base.select(col("doc_id"), col("text")).union(planted).persist())
      val cands = graft.operators.Dedup.minhashCandidatePairs(
        docs, "doc_id", "text")
      val sh = docs.select(col("doc_id").as("id"),
        TF.shinglesOf(toks(col("text")), 3).as("sh"))
      val pairs = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
          size(array_intersect(col("a.sh"), col("b.sh"))).cast("long")
            .as("__i"),
          size(array_union(col("a.sh"), col("b.sh"))).cast("long")
            .as("__u"))
      val sMid = (col("bin").cast("double") + 0.5) / 10.0
      val s4 = sMid * sMid * sMid * sMid
      val t1 = lit(1.0) - s4
      pairs
        .withColumn("bin", least(expr("(__i * 10) div __u"), lit(9L)))
        .join(cands.withColumn("__c", lit(1L)), Seq("a_id", "b_id"),
          "left")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(col("__c")), lit(0L)).as("n_captured"))
        .withColumn("capture", graft.functions.Grid.snap(
          col("n_captured").cast("double") / col("n_pairs"), 4))
        .withColumn("theory", graft.functions.Grid.snap(
          lit(1.0) - t1 * t1 * t1 * t1, 4))
        .orderBy(col("bin"))
    },
      HashOracles.q339LshScurve(150)),

    // Layout margins — the X half of the X-Y cut (q337 is the Y):
    // per-column ink from the decoded raster, the page's inked span
    // (first/last column above the mean) and margin widths. Same
    // exact-integer contract; the oracle replays column sums from the
    // embeddings.
    "q350_layout_margins" -> Query((s, dir) => {
      val px = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(px, "vec_id", "pixels",
          side = 8), "media_id", "media")
      val prof = graft.operators.Multimodal.colInkProfile(media)
      val tot = prof.groupBy(col("media_id"))
        .agg(sum(col("ink")).as("__tot"), count(lit(1)).as("__nc"))
      prof.join(tot, Seq("media_id"))
        .withColumn("__is_ink",
          col("ink") * col("__nc") > col("__tot"))
        .groupBy(col("media_id"))
        .agg(sum(when(col("__is_ink"), 1L).otherwise(0L))
          .as("n_ink_cols"),
          min(when(col("__is_ink"), col("col_idx"))).as("left_margin"),
          max(when(col("__is_ink"), col("col_idx"))).as("right_edge"))
        .orderBy(col("media_id"))
    },
      // column-ink replay: column x of the 8x8 raster holds pixels
      // i = x, x+8, ..., x+56; ink = sum(255 - p), inked columns by the
      // exact cross-multiplied mean comparison
      """WITH px AS (SELECT vec_id AS media_id, i,
        |  CAST(greatest(0, least(255, floor((CAST(embedding[i+1]
        |    AS DOUBLE) + 1.0) * 127.5))) AS BIGINT) AS p
        |  FROM embeddings, range(64) t(i)),
        |cols AS (SELECT media_id, CAST(i % 8 AS INTEGER) AS col_idx,
        |  CAST(sum(255 - p) AS BIGINT) AS ink
        |  FROM px GROUP BY 1, 2),
        |tot AS (SELECT media_id, sum(ink) AS tot,
        |  count(*) AS nc FROM cols GROUP BY 1)
        |SELECT c.media_id,
        |  CAST(sum(CASE WHEN c.ink * t.nc > t.tot THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_ink_cols,
        |  min(CASE WHEN c.ink * t.nc > t.tot THEN c.col_idx END)
        |    AS left_margin,
        |  max(CASE WHEN c.ink * t.nc > t.tot THEN c.col_idx END)
        |    AS right_edge
        |FROM cols c JOIN tot t USING (media_id)
        |GROUP BY c.media_id ORDER BY c.media_id""".stripMargin),

    // SSL-PROTOTYPE data pruning (Sorscher et al. 2022): trained
    // kmeans assignment, prototypicality = closeness to centroid,
    // keep the hardest ceil(50%·|c|) of each cluster by the
    // (dist_sq DESC, id) total order. Kept membership is pinned by an
    // md5 over the sorted kept ids; the keep rule is exact integer
    // arithmetic, so the set replays bit-identically.
    "q351_prototype_prune" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 4, iters = 2)
      graft.operators.Clustering.pruneEasiest(e, "vec_id", "embedding",
          cents, keepPct = 50)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          md5(concat_ws(",", transform(
            sort_array(collect_list(when(col("kept"), col("vec_id")))),
            x => x.cast("string")))).as("kept_md5"),
          round(sum(when(col("kept"), col("dist_sq"))), 2)
            .as("inertia_kept"))
        .orderBy(col("cluster"))
    },
      // SSL-prototype pruning + its operating-point sweep: kmeans
      // replay + hardness rank + exact integer keep rule
      HashOracles.q351PrototypePrune(4, 50)),

    // One-way ANOVA F across all five event types — the parametric
    // k-arm mean test completing the family around q315's rank-based
    // Kruskal-Wallis: exact cent-grid moments in ONE partial-agg pass
    // to the 5-row arm table, the k-bounded arm-ordered fold of
    // s_i^2/n_i, one F tree at the readout.
    "q367_anova_f" -> Query((s, dir) =>
      graft.operators.Abtest.anovaF(events(s, dir), "event_type",
        "event_id", "value", scale = 2),
      // one-way ANOVA: exact cent-grid moments, arm-ordered s^2/n fold
      HashOracles.q367AnovaF),

    // Brown-Forsythe variance homogeneity — the assumption check run
    // BEFORE trusting q367's pooled within-variance: per-arm EXACT
    // median (doubled, so even counts stay integral), |y - med| on
    // the doubled grid, the same one-way F over the deviations.
    "q368_brown_forsythe" -> Query((s, dir) =>
      graft.operators.Abtest.brownForsythe(events(s, dir),
        "event_type", "event_id", "value", scale = 2),
      // Brown-Forsythe: doubled exact medians, ANOVA core on |2c - m2|
      HashOracles.q368BrownForsythe),

    // Friedman repeated-measures rank test: block = user, treatment =
    // event type, y = the user's total cents in that type; users
    // missing any of the k types drop (complete-block design), ranks
    // are block-keyed doubled midranks, and the tie-adjusted Conover
    // statistic reads off exact decimal quadratic sums.
    "q369_friedman" -> Query((s, dir) => {
      val peru = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(floor(col("value") * 100.0 + 0.5).cast("long"))
          .as("c"))
      graft.operators.Abtest.friedman(peru, "user_id", "event_type",
        "c")
    },
      // Friedman: complete blocks, block-keyed doubled midranks
      HashOracles.q369Friedman),

    // Correlogram of daily order revenue: the standard r_k = c_k/c_0
    // autocorrelation (fixed full-series mean, x-n^2 integer-carried
    // numerator — exact decimals end to end) plus the Ljung-Box
    // portmanteau folded from the SNAPPED grid r's in lag order — the
    // white-noise gate a forecast-residual audit runs first.
    "q370_acf_ljungbox" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Seasonal.autocorrelation(daily, "day", "rev",
          maxLag = 10, scale = 2)
        .orderBy(col("lag"))
    },
      // correlogram: x-n^2 integer numerators, snapped-r Ljung-Box fold
      HashOracles.q370AcfLjungbox(10)),

    // Image quality stats for corpus filtering: brightness, contrast
    // and variance-of-Laplacian sharpness over the SAME 8x8 integer
    // pooling the perceptual hashes read — one decode serves hash and
    // quality alike. On the lossless 8x8 device every cell is one
    // pixel, so the oracle replays all three moments exactly from the
    // embeddings.
    "q371_image_quality" -> Query((s, dir) => {
      val px = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(px, "vec_id", "pixels",
          side = 8), "media_id", "media")
      graft.operators.Multimodal.imageQualityStats(media)
        .orderBy(col("media_id"))
    },
      // image quality: q235 pixel device, integer moments + Laplacian
      HashOracles.q371ImageQuality),

    // URL-canonicalization dedup (the RefinedWeb pre-content key):
    // three fetch variants per target page — scheme/host case, www.,
    // default port, trailing slash, tracking params, param order,
    // fragments — all fold to ONE canonical URL in a single codegen'd
    // Column program (no UDF), and the dedup is one hash aggregation
    // on the derived key.
    "q372_url_dedup" -> Query((s, dir) => {
      val urls = webUrls(T(s, dir, "documents"))
      urls
        .groupBy(graft.functions.Urls.canonicalize(col("url"))
          .as("canonical_url"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw"),
          min(col("doc_id")).as("canonical_doc"))
        .orderBy(col("canonical_url"))
    },
      // URL canonicalization: identical regex + list program
      HashOracles.q372UrlDedup),

    // Johnson-Lindenstrauss distortion audit: 64-dim embeddings
    // projected to 16 dims by the deterministic md5-parity sign
    // matrix (map-only, index-ordered folds), then consecutive-id
    // pairs compare projected to original squared distance — the
    // measured evidence for running candidate generation in the
    // projected space. Ratios land on the 1e-6 grid so the summary
    // moments are exact integer sums.
    "q373_jl_distortion" -> Query((s, dir) => {
      val proj = graft.operators.RandomProjection.projectSigned(
        T(s, dir, "embeddings"), "embedding", dIn = 64, dOut = 16)
        .select(col("vec_id"), col("embedding"), col("proj"))
      val pairs = proj.select(col("vec_id").as("__k"),
          col("embedding").as("ea"), col("proj").as("pa"))
        .join(proj.select((col("vec_id") - 1L).as("__k"),
          col("embedding").as("eb"), col("proj").as("pb")), Seq("__k"))
        .withColumn("__do", expr(
          "aggregate(zip_with(CAST(ea AS ARRAY<DOUBLE>), " +
            "CAST(eb AS ARRAY<DOUBLE>), (u, v) -> (u - v) * (u - v)), " +
            "CAST(0.0 AS DOUBLE), (a, z) -> a + z)"))
        .withColumn("__dp", expr(
          "aggregate(zip_with(pa, pb, (u, v) -> (u - v) * (u - v)), " +
            "CAST(0.0 AS DOUBLE), (a, z) -> a + z)"))
        .filter(col("__do") > 0.0)
        .withColumn("__r6",
          floor(col("__dp") / col("__do") * 1e6 + 0.5).cast("long"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          lit(64).as("d_in"), lit(16).as("d_out"),
          graft.functions.Grid.snap(
            sum(col("__r6")).cast("double") /
              (count(lit(1)).cast("double") * 1e6), 6).as("mean_ratio"),
          (min(col("__r6")).cast("double") / 1e6).as("min_ratio"),
          (max(col("__r6")).cast("double") / 1e6).as("max_ratio"),
          graft.functions.Grid.snap(
            sum(when(abs(col("__r6") - 1000000L) <= 300000L, 1L)
              .otherwise(0L)).cast("double") /
              count(lit(1)).cast("double"), 6).as("frac_within_30pct"))
    },
      // JL distortion: embedded sign literal, index-ordered folds
      HashOracles.q373JlDistortion),

    // UniMax language sampling (Chung et al. 2023): uniform budget
    // across languages capped at maxEpochs passes of each language's
    // tokens — exactly the house waterfill with unit weights and the
    // epoch-scaled capacity; q322's mC4 alpha-sampling is the
    // frequency-proportional alternative on the same stratum table.
    "q374_unimax" -> Query((s, dir) => {
      val perLang = T(s, dir, "documents")
        .select(col("lang"), size(toks(col("text"))).as("n"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).cast("long").as("c_tokens"))
        .withColumn("weight", lit(1.0))
      graft.operators.Mixture.waterfill(perLang, "lang", "c_tokens",
          "weight", budget = 20000.0, maxEpochs = 4)
        .select(col("lang"), col("c_tokens"),
          graft.functions.Grid.snap(col("alloc"), 2).as("alloc"),
          graft.functions.Grid.snap(
            col("alloc") / col("c_tokens").cast("double"), 4)
            .as("epochs_used"))
        .orderBy(col("lang"))
    },
      // UniMax: the q91 waterfill replay with cap = 4c, wt = 1
      HashOracles.q374Unimax),

    // PACF via Durbin-Levinson over q370's snapped ACF grid values —
    // the AR-order identification half of the correlogram. The
    // recursion is a driver fold over the bounded lag table (the
    // Markov discipline), every phi snapped per step; the oracle
    // unrolls the identical recursion in SQL.
    "q375_pacf" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Seasonal.partialAutocorrelation(daily, "day",
          "rev", maxLag = 10, scale = 2)
        .orderBy(col("lag"))
    },
      // PACF: Durbin-Levinson unrolled in SQL over the snapped ACF grid
      HashOracles.q375Pacf(10)),

    // Wald-Wolfowitz runs test on the daily revenue series: exact
    // doubled median via the global rank device, median ties drop,
    // runs counted by ONE position equi-join, exact-long moments into
    // the z tree — the sign-pattern randomness companion to q370's
    // linear-dependence gate.
    "q376_runs_test" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Seasonal.runsTest(daily, "day", "rev",
        scale = 2)
    },
      // runs test: doubled median, rn+1 pair join, exact-long moments
      HashOracles.q376RunsTest),

    // Matryoshka truncation recall: top-10 cosine retrieval in the
    // first-{8,16,32,64}-dims spaces vs the 64-dim exact set, over a
    // bounded query sample — the measured curve for running
    // first-stage retrieval at a fraction of the dimension.
    "q377_matryoshka_recall" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val q = e.filter(pmod(col("vec_id"), lit(100L)) === 7L)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
      graft.operators.Similarity.matryoshkaRecall(e, "vec_id",
        "embedding", q, Seq(8, 16, 32, 64), k = 10)
    },
      // matryoshka: truncated-cosine folds, snapped-before-rank top-k
      HashOracles.q377Matryoshka(10, 64)),

    // Holm-Bonferroni step-down over the q248 test family — the FWER
    // companion to BH's FDR: rejections stop at the FIRST rank whose
    // p exceeds alpha/(m-k+1); no later rank can rescue it.
    "q378_holm_correction" -> Query((s, dir) => {
      val units = T(s, dir, "orders")
        .join(broadcast(T(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          pmod(col("o_custkey"), lit(2)).cast("string").as("arm"),
          (col("o_totalprice") + when(col("c_mktsegment") === "BUILDING"
            && pmod(col("o_custkey"), lit(2)) === 1, 2000.0)
            .otherwise(0.0)).as("y"))
      val z = graft.operators.Multiplicity.welchZBy(
        units, "seg", "arm", "y")
      graft.operators.Multiplicity.holmBonferroni(z, "p", "grp",
          alphaPct = 5)
        .select(col("grp").as("segment"), col("n_a"), col("n_b"),
          col("diff"), col("z"), col("p"), col("rank"),
          col("holm_threshold"), col("rejected"))
        // NULL ranks (the untestable all-null-p rows) sort LAST in
        // BOTH engines by explicit pin: Spark's asc default is
        // NULLS FIRST, DuckDB's is NULLS LAST — the ordered
        // contract must not depend on the gate's canonical re-sort
        .orderBy(col("rank").asc_nulls_last)
    },
      // Holm: the q248 chain, first-failure rank, strict step-down
      HashOracles.q378Holm(5)),

    // Incremental URL dedup — the production shape of q372: the
    // corpus holds a canonical-URL index, each crawl batch probes it
    // with ONE equi-join on the derived key (the q330 convention;
    // the streaming form joins the same index stream-static).
    "q379_incremental_url_dedup" -> Query((s, dir) => {
      val docs = webUrls(T(s, dir, "documents"))
      graft.operators.UrlDedup.flagIncremental(
          docs.filter(col("doc_id") >= 300), // delta
          docs.filter(col("doc_id") < 300), // corpus
          "doc_id", "url")
        .orderBy(col("doc_id"))
    },
      // incremental URL dedup: corpus index, delta left-join probe
      HashOracles.q379IncrementalUrl),

    // Pairwise post-hoc after the k-arm omnibus: Welch z for every
    // arm pair from the same exact-moment table (k^2-bounded
    // broadcast self-join), then the Holm step-down for the
    // familywise-safe verdict set — WHICH event types differ.
    "q380_pairwise_posthoc" -> Query((s, dir) => {
      val pw = graft.operators.Abtest.pairwiseWelch(events(s, dir),
        "event_type", "value", scale = 2)
      graft.operators.Multiplicity.holmBonferroni(pw, "p", "pair",
          alphaPct = 5)
        .select(col("pair"), col("arm_a"), col("arm_b"), col("n_a"),
          col("n_b"), col("diff"), col("z"), col("p"), col("rank"),
          col("holm_threshold"), col("rejected"))
        .orderBy(col("rank").asc_nulls_last)
    },
      // pairwise Welch + Holm: k^2-bounded moment self-join, step-down
      HashOracles.q380PairwisePosthoc(5)),

    // Welch's heteroscedastic ANOVA — the fallback when q368 rejects
    // q367's equal-variance assumption: weighted means, four
    // arm-ordered folds over the bounded moment list, the Welch F*
    // and its Satterthwaite-style df2.
    "q381_welch_anova" -> Query((s, dir) =>
      graft.operators.Abtest.welchAnova(events(s, dir), "event_type",
        "event_id", "value", scale = 2),
      // Welch ANOVA: four arm-ordered folds over the moment list
      HashOracles.q381WelchAnova),

    // Web-corpus capstone: URL-canonical dedup (pre-content, the
    // cheap key) -> folded-fingerprint content dedup -> quality keep,
    // with per-language yield accounting at every stage — the
    // RefinedWeb-shaped chain over the house operators.
    "q382_corpus_pipeline_web" -> Query((s, dir) => {
      val docs = webUrls(T(s, dir, "documents"))
      val idx = graft.operators.UrlDedup.urlIndex(docs, "doc_id",
        "url")
      val flagged = graft.operators.UrlDedup.flagAgainstIndex(docs,
        idx, "doc_id", "url")
      val afterUrl = docs.join(
        flagged.select(col("doc_id"), col("matched_id")), Seq("doc_id"))
        .filter(col("matched_id").isNull ||
          col("doc_id") === col("matched_id"))
        .select(col("doc_id"), col("text"), col("lang"))
      val withFp = afterUrl.withColumn("fp",
        graft.operators.CrossLingual.foldedFingerprint(col("text")))
      val canon = withFp.filter(col("fp").isNotNull)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("__fc"))
      val afterFp = withFp.join(canon, Seq("fp"), "left")
        .filter(col("__fc").isNull || col("doc_id") === col("__fc"))
        .select(col("doc_id"), col("text"), col("lang"))
      val kept = graft.operators.QualityFilters.keep(
          afterFp.withColumn("toks", toks(col("text"))), "text",
          graft.operators.QualityFilters.Thresholds(minTokens = 30,
            maxTokens = 10000, maxDupNgramFraction = 0.05),
          tokensCol = Some("toks"))
        .select(col("doc_id"), col("lang"),
          size(col("toks")).cast("long").as("__tk"))
      def langCount(df: DataFrame, name: String) =
        df.groupBy(col("lang")).agg(count(lit(1)).as(name))
      langCount(docs, "n_raw")
        .join(langCount(afterUrl, "n_after_url"), Seq("lang"), "left")
        .join(langCount(afterFp, "n_after_fp"), Seq("lang"), "left")
        .join(kept.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("__tk")).as("tokens_kept")), Seq("lang"), "left")
        .na.fill(0L, Seq("n_after_url", "n_after_fp", "n_kept",
          "tokens_kept"))
        .orderBy(col("lang"))
    },
      // web capstone: URL dedup -> fp dedup -> quality, staged yields
      HashOracles.q382WebPipeline),

    // DFT periodogram over the first 256 days of order revenue —
    // the seasonality DETECTOR that picks holtWinters/decompose's
    // period: embedded twiddle-table literals (never in-engine cos),
    // x-n integer mean-centering, rn-ordered folds per frequency.
    "q383_periodogram" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Seasonal.periodogram(daily, "day", "rev",
        nWindow = 256, maxFreq = 16, scale = 2)
    },
      // periodogram: twiddle-literal DFT, rn-ordered folds
      HashOracles.q383Periodogram(256, 16)),

    // Cochran's Q across all five event types on the PAIRED BINARY
    // outcome "user has >= 2 events of the type" — McNemar's k-arm
    // generalization, exact integers until one division; missing
    // (user, type) cells read 0 via the bounded-arm grid completion.
    "q384_cochran_q" -> Query((s, dir) => {
      val bx = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg((count(lit(1)) >= 2L).cast("long").as("x"))
      graft.operators.Abtest.cochranQ(bx, "user_id", "event_type",
        "x")
    },
      // Cochran's Q: grid completion, exact HUGEINT quadratics
      HashOracles.q384CochranQ),

    // Trend/seasonal strength (FPP3 4.3) of the per-priority weekly
    // decomposition — the 0..1 gauges that decide whether a forecast
    // should carry a seasonal register at all; exact integer moments
    // off the q332 residual register's own grids.
    "q385_seasonal_strength" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Seasonal.strength(daily, "o_orderpriority",
          "day", "rev", period = 7, scale = 2)
        .orderBy(col("o_orderpriority"))
    },
      // strength: q332 register CTEs + integer moments on its grids
      HashOracles.q385SeasonalStrength),

    // Byte-grain tokenizer-planning audit: per language the exact
    // byte/char/token totals, bytes-per-token (the byte-fertility
    // sibling of q140's wordpiece fertility) and the multibyte share
    // — what sizes a byte-fallback vocabulary. One aggregation.
    "q386_byte_fertility" -> Query((s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"), length(col("text")).cast("long")
          .as("__ch"), octet_length(col("text")).cast("long")
          .as("__by"), size(toks(col("text"))).cast("long")
          .as("__tk"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__by")).as("n_bytes"),
          sum(col("__ch")).as("n_chars"),
          sum(col("__tk")).as("n_tokens"),
          graft.functions.Grid.snap(
            sum(col("__by")).cast("double") /
              sum(col("__tk")).cast("double"), 4)
            .as("bytes_per_token"),
          graft.functions.Grid.snap(
            (sum(col("__by")) - sum(col("__ch"))).cast("double") /
              sum(col("__by")).cast("double"), 6)
            .as("multibyte_share"))
        .orderBy(col("lang")),
      // byte fertility: strlen/length/token integer totals per lang
      {
      import graft.functions.Grid.snapSql
      s"""WITH d AS (SELECT lang, CAST(strlen(text) AS BIGINT) AS by,
         |  CAST(length(text) AS BIGINT) AS ch,
         |  CAST(len($ToksSql) AS BIGINT) AS tk FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(by) AS BIGINT) AS n_bytes,
         |  CAST(sum(ch) AS BIGINT) AS n_chars,
         |  CAST(sum(tk) AS BIGINT) AS n_tokens,
         |  ${snapSql("CAST(sum(by) AS DOUBLE) / " +
            "CAST(sum(tk) AS DOUBLE)", 4)} AS bytes_per_token,
         |  ${snapSql("CAST(sum(by) - sum(ch) AS DOUBLE) / " +
            "CAST(sum(by) AS DOUBLE)", 6)} AS multibyte_share
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin
    }),

    // Perplexity DATA-MAP (the ccnet head/middle/tail audit made a
    // histogram): q103's held-out trigram scores bucketed on the
    // integer ln-prob grid per source — which sources feed the
    // low-perplexity head a filter would keep.
    "q387_perplexity_datamap" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val lm = graft.operators.NgramLm.train(
        docs.filter(col("doc_id") < 250), "doc_id", "text", n = 3)
      val scored = graft.operators.NgramLm.logProbScore(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", lm)
      val src = docs.select(col("doc_id"), col("source"))
      val bins = scored.join(src, Seq("doc_id"))
        .withColumn("bin", floor(col("avg_lp")).cast("long"))
      val tot = bins.groupBy(col("source"))
        .agg(count(lit(1)).as("__n"))
      bins.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"))
        .join(tot, Seq("source"))
        .select(col("source"), col("bin"), col("n_docs"),
          graft.functions.Grid.snap(col("n_docs").cast("double") /
            col("__n").cast("double"), 6).as("share"))
        .orderBy(col("source"), col("bin"))
    },
      // perplexity data-map: the q103 scoring CTEs + integer-grid bins
      {
      import graft.functions.Grid.snapSql
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |tr AS (SELECT * FROM tok WHERE doc_id < 250),
         |te AS (SELECT * FROM tok WHERE doc_id >= 250),
         |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs FROM
         |  (SELECT unnest(t) AS w FROM tr)),
         |n3 AS (SELECT g, count(*) AS cn FROM
         |  (SELECT array_to_string(t[i + 1 : i + 3], ' ') AS g FROM
         |    (SELECT t, unnest(range(0, len(t) - 2)) AS i FROM tr
         |     WHERE len(t) >= 3)) GROUP BY g),
         |n2 AS (SELECT c, count(*) AS cc FROM
         |  (SELECT array_to_string(t[i + 1 : i + 2], ' ') AS c FROM
         |    (SELECT t, unnest(range(0, len(t) - 1)) AS i FROM tr
         |     WHERE len(t) >= 2)) GROUP BY c),
         |tep AS (SELECT doc_id, array_to_string(t[i + 1 : i + 3], ' ')
         |    AS g, array_to_string(t[i + 1 : i + 2], ' ') AS c
         |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 2)) AS i
         |        FROM te WHERE len(t) >= 3)),
         |sc AS (SELECT p.doc_id,
         |  ln((coalesce(n3.cn, 0) + 0.4) / (coalesce(n2.cc, 0) +
         |    0.4 * v.vs)) AS lp
         |  FROM tep p
         |  LEFT JOIN n3 ON n3.g = p.g
         |  LEFT JOIN n2 ON n2.c = p.c
         |  CROSS JOIN v),
         |ds AS (SELECT doc_id, round(avg(lp), 4) AS avg_lp FROM sc
         |  GROUP BY doc_id),
         |bn AS (SELECT d.source, CAST(floor(ds.avg_lp) AS BIGINT)
         |    AS bin FROM ds JOIN documents d USING (doc_id)),
         |tt AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM bn GROUP BY 1)
         |SELECT bn.source, bn.bin, CAST(count(*) AS BIGINT) AS n_docs,
         |  ${snapSql("CAST(count(*) AS DOUBLE) / " +
            "CAST(any_value(tt.n) AS DOUBLE)", 6)} AS share
         |FROM bn JOIN tt USING (source)
         |GROUP BY bn.source, bn.bin
         |ORDER BY bn.source, bn.bin""".stripMargin
    }),

    // Quality-aware canonical election for image dedup (the q344
    // text rule on the media side): among near-dup pairs keep the
    // SHARPER image — variance-of-Laplacian decides, min id breaks
    // ties. One hash pass + one quality pass share the decode; the
    // pair join is the banded equi-join; the election is map-only.
    "q388_dedup_keep_sharpest" -> Query((s, dir) => {
      val base = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val copies = base.filter(col("vec_id") % 3 < 2)
        .select((col("vec_id") + lit(100000L)).as("vec_id"),
          expr("CASE WHEN vec_id % 3 = 1 THEN transform(pixels, " +
            "(p, i) -> CASE WHEN i % 16 = 0 THEN least(p + 3, 255D) " +
            "ELSE p END) ELSE pixels END").as("pixels"))
      val media = graft.CacheScope.register(
        graft.operators.Multimodal.asMedia(
          graft.operators.Multimodal.encodePng(base.union(copies),
            "vec_id", "pixels", side = 8), "media_id", "media")
          .persist())
      val pairs = graft.operators.MediaDedup.nearDupPairs(
        graft.operators.MediaDedup.averageHash(media), maxHamming = 3)
      val qs = graft.operators.Multimodal.imageQualityStats(media)
        .select(col("media_id"), col("sharpness"))
      pairs
        .join(qs.select(col("media_id").as("a_id"),
          col("sharpness").as("sharp_a")), Seq("a_id"))
        .join(qs.select(col("media_id").as("b_id"),
          col("sharpness").as("sharp_b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("hamming"),
          col("sharp_a"), col("sharp_b"),
          when(col("sharp_a") > col("sharp_b"), col("a_id"))
            .when(col("sharp_b") > col("sharp_a"), col("b_id"))
            .otherwise(least(col("a_id"), col("b_id"))).as("keeper"))
        .orderBy(col("a_id"), col("b_id"))
    },
      // keep-sharpest election: the q236 pigeonhole pair set joined to
      // the q371 sharpness replay over the SAME planted corpus
      {
      import graft.functions.Grid.snapSql
      s"""WITH base AS (SELECT vec_id AS media_id, i,
        |  CAST(greatest(0, least(255, floor((CAST(embedding[i+1]
        |    AS DOUBLE) + 1.0) * 127.5))) AS BIGINT) AS p
        |  FROM embeddings, range(64) t(i)),
        |corpus AS (
        |  SELECT media_id, i, p FROM base
        |  UNION ALL
        |  SELECT media_id + 100000, i,
        |    CASE WHEN media_id % 3 = 1 AND i % 16 = 0
        |      THEN least(p + 3, 255) ELSE p END
        |  FROM base WHERE media_id % 3 < 2),
        |s AS (SELECT media_id, sum(p) AS tot FROM corpus GROUP BY 1),
        |bits AS (SELECT c.media_id, i,
        |  CASE WHEN 64 * p > tot THEN 1 ELSE 0 END AS b
        |  FROM corpus c JOIN s USING (media_id)),
        |h AS (SELECT media_id,
        |  CAST(sum(CASE WHEN i // 16 = 0 THEN b * (1::BIGINT <<
        |    CAST(15 - (i % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b0,
        |  CAST(sum(CASE WHEN i // 16 = 1 THEN b * (1::BIGINT <<
        |    CAST(15 - (i % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b1,
        |  CAST(sum(CASE WHEN i // 16 = 2 THEN b * (1::BIGINT <<
        |    CAST(15 - (i % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b2,
        |  CAST(sum(CASE WHEN i // 16 = 3 THEN b * (1::BIGINT <<
        |    CAST(15 - (i % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b3
        |  FROM bits GROUP BY media_id),
        |pr AS (SELECT a.media_id AS a_id, b.media_id AS b_id,
        |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        |    AS INTEGER) AS hamming
        |  FROM h a JOIN h b ON a.media_id < b.media_id
        |  WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        |    <= 3),
        |lap AS (SELECT c.media_id,
        |  4 * c.p - pw.p - pe.p - pn.p - ps.p AS l FROM corpus c
        |  JOIN corpus pw ON pw.media_id = c.media_id
        |    AND pw.i = c.i - 1
        |  JOIN corpus pe ON pe.media_id = c.media_id
        |    AND pe.i = c.i + 1
        |  JOIN corpus pn ON pn.media_id = c.media_id
        |    AND pn.i = c.i - 8
        |  JOIN corpus ps ON ps.media_id = c.media_id
        |    AND ps.i = c.i + 8
        |  WHERE c.i % 8 BETWEEN 1 AND 6 AND c.i // 8 BETWEEN 1 AND 6),
        |qs AS (SELECT media_id,
        |  ${snapSql("(36.0e0 * CAST(sum(l * l) AS DOUBLE) - " +
           "CAST(sum(l) AS DOUBLE) * CAST(sum(l) AS DOUBLE)) / " +
           "1296.0e0", 4)} AS sharpness
        |  FROM lap GROUP BY media_id)
        |SELECT pr.a_id, pr.b_id, pr.hamming,
        |  qa.sharpness AS sharp_a, qb.sharpness AS sharp_b,
        |  CASE WHEN qa.sharpness > qb.sharpness THEN pr.a_id
        |       WHEN qb.sharpness > qa.sharpness THEN pr.b_id
        |       ELSE least(pr.a_id, pr.b_id) END AS keeper
        |FROM pr JOIN qs qa ON qa.media_id = pr.a_id
        |JOIN qs qb ON qb.media_id = pr.b_id
        |ORDER BY pr.a_id, pr.b_id""".stripMargin
    }),

    // Host reputation — the RefinedWeb stage AFTER URL dedup: per
    // canonical host the page/doc counts, the URL-variant dup share,
    // and token mass; what feeds a host blocklist or crawl budget.
    "q389_host_reputation" -> Query((s, dir) => {
      val canon = webUrls(T(s, dir, "documents"))
        .withColumn("curl",
          graft.functions.Urls.canonicalize(col("url")))
        .withColumn("host",
          regexp_extract(col("curl"), "^[a-z]+://([^/:?#]+)", 1))
        .withColumn("__tk", size(toks(col("text"))).cast("long"))
      canon.groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("curl")).as("n_pages"),
          sum(col("__tk")).as("n_tokens"),
          graft.functions.Grid.snap(
            (count(lit(1)) - countDistinct(col("curl")))
              .cast("double") / count(lit(1)).cast("double"), 6)
            .as("dup_share"),
          graft.functions.Grid.snap(
            sum(col("__tk")).cast("double") /
              count(lit(1)).cast("double"), 4).as("tokens_per_doc"))
        .orderBy(col("host"))
    },
      // host reputation: synth + canonicalization fragments, host
      // regexp, exact counts + snapped shares
      HashOracles.q389HostReputation),

    // SEMANTIC contamination at EMBEDDING grain (round-15): token-
    // level decontamination (q71/q162's n-gram/Bloom gates) misses
    // PARAPHRASED benchmark leakage — same meaning, zero shared
    // 13-grams. Here the held-out benchmark (doc_id < 100) probes the
    // training corpus in embedding space: centroids train on the
    // TRAINING side (its distribution is what the index would hold),
    // the train side assigns nearest-1, the benchmark probes nAssign
    // lists (the q392 shape, in memory), cosine >= 0.35 flags a
    // semantic hit; readout per benchmark doc — how many training
    // docs paraphrase it, the worst offender, the max cosine. Every
    // stage an equi-join on trained list ids — never n².
    "q393_semantic_contamination" -> Query((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = T(s, dir, "embeddings")
      val bench = e.filter(col("vec_id") < 100)
      val train = e.filter(col("vec_id") >= 100)
      val cents = graft.operators.Clustering.kmeansCentroids(
        train, "vec_id", "embedding", k = 16, iters = 2)
      val VF = graft.functions.VectorFunctions
      val tr = VF.prepForPairs(train, "vec_id", "embedding")
        .withColumn("__list", element_at(
          graft.operators.Clustering.nearestLists(col("vd"), cents, 1),
          1))
      val pr = VF.prepForPairs(bench, "vec_id", "embedding")
        .withColumn("__list", explode(
          graft.operators.Clustering.nearestLists(col("vd"), cents, 4)))
      val hits = pr.as("b").join(tr.as("t"), col("b.__list") ===
          col("t.__list"))
        .select(col("b.id").as("bench_id"), col("t.id").as("train_id"),
          when(col("b.nrm") * col("t.nrm") === 0.0, lit(0.0))
            .otherwise(VF.fastDot(col("b.vd"), col("t.vd")) /
              (col("b.nrm") * col("t.nrm"))).as("cos"))
        .withColumn("cos", graft.functions.Grid.snap(col("cos"), 4))
        .filter(col("cos") >= 0.35)
      val w = Window.partitionBy(col("bench_id"))
        .orderBy(col("cos").desc, col("train_id"))
      hits
        .withColumn("__rn", row_number().over(w))
        .groupBy(col("bench_id"))
        .agg(count(lit(1)).as("n_contaminated"),
          max(col("cos")).as("max_cos"),
          max(when(col("__rn") === 1, col("train_id")))
            .as("worst_offender"))
        .orderBy(col("bench_id"))
    },
      HashOracles.q393SemanticContamination(16, 4, 100L, 0.35)),

    // PERSISTED-INDEX bitext mining (round-15: the q333 trained-list
    // form composed with the q109 IVF index lifecycle): the English
    // half of a parallel-corpus build stands as an on-disk IVF index
    // (written, then FOLDED into with an append — the disk round-trip
    // must not change a row), and the foreign batch probes its
    // nAssign nearest lists — at 100 TB a static isin-pruned scan of
    // just those list directories — mining each probe's best partner
    // by FORWARD margin (the indexed side never probes back, so the
    // two-sided ratio is undefined; Artetxe & Schwenk forward
    // scoring). Incremental mining without recomputing the corpus.
    "q392_bitext_index_probe" -> Query((s, dir) => {
      val langs = T(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val e = T(s, dir, "embeddings")
      val en = e.join(langs.filter(col("lang") === "en")
        .select(col("vec_id")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val cents = graft.operators.Clustering.kmeansCentroids(
        en, "vec_id", "embedding", k = 16, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q392_bitext_ivf").getAbsolutePath
      graft.operators.Similarity.writeIvfIndex(
        en.filter(col("vec_id") < 300), "vec_id", "embedding",
        path, cents)
      graft.operators.Similarity.appendToIvfIndex(
        en.filter(col("vec_id") >= 300), "vec_id", "embedding", path)
      val delta = e.join(langs.filter(col("lang") =!= "en")
        .select(col("vec_id")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))
      graft.operators.Similarity.bitextProbeIndexed(s, path, delta,
          "vec_id", "embedding", k = 8, nAssign = 4)
        .join(langs.select(col("vec_id").as("x"),
          col("lang").as("x_lang")), Seq("x"))
        .orderBy(col("x"))
    },
      HashOracles.q392BitextIndexProbe(16, 4, 8)),

    // SCRIPT-AWARE cross-lingual dedup (round-15 directive: non-Latin
    // corpora previously folded to NULL and opted out of exact dedup
    // entirely): a synthetic multilingual corpus plants zh duplicates
    // (codepoint-grain permutations under zh vs zh-tw labels) and ru
    // duplicates (token permutations under mislabeled locales) beside
    // Latin singletons — same-script permutations collide, and NO
    // cluster ever spans two scripts (tokens keep their native
    // characters, so cross-script sets can't be equal). Same one-
    // aggregation plan as q319.
    "q391_script_aware_dedup" -> Query((s, dir) =>
      graft.operators.CrossLingual.scriptAwareClusters(
          scriptSynth(T(s, dir, "documents")), "doc_id", "text",
          "lang")
        .orderBy(col("canonical_id")),
      // the q319 cluster shape under the script-aware fold, over the
      // planted multilingual synth corpus
      (HashOracles.ScriptSynthCtes.mkString("WITH ", ",\n", ",\n") +
      s"""f AS (SELECT doc_id, lang,
        |  ${HashOracles.ScriptedFpSql} AS fp FROM sy)
        |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  min(doc_id) AS canonical_id,
        |  array_to_string(list_sort(list_distinct(list(lang))), ',')
        |    AS langs
        |FROM f WHERE fp IS NOT NULL GROUP BY fp
        |HAVING count(*) >= 2 AND count(DISTINCT lang) >= 2
        |ORDER BY canonical_id""".stripMargin)),

    // THAI-FAMILY shingle dedup (the r15 what's-missing #2: Thai /
    // Lao / Khmer write no spaces but carry small alphabets, so the
    // CJK codepoint device would false-merge nearly everything —
    // each unbroken run explodes into character BIGRAMS instead):
    // th and lo re-crawl pairs whose runs are intact but whose
    // punctuation / token order changed collide; the Latin control
    // never merges; no cluster spans th and lo (bigrams keep their
    // native characters). Same one-aggregation plan as q391.
    "q399_thai_shingle_dedup" -> Query((s, dir) =>
      graft.operators.CrossLingual.scriptAwareClusters(
          thaiSynth(T(s, dir, "documents")), "doc_id", "text",
          "lang")
        .orderBy(col("canonical_id")),
      // the q391 cluster shape over the Thai/Lao bigram-shingle synth
      // (ScriptedFpSql already carries the bigram explosion for the
      // ShingledClass runs, shared by every scripted oracle)
      (HashOracles.ThaiSynthCtes.mkString("WITH ", ",\n", ",\n") +
      s"""f AS (SELECT doc_id, lang,
        |  ${HashOracles.ScriptedFpSql} AS fp FROM sy)
        |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  min(doc_id) AS canonical_id,
        |  array_to_string(list_sort(list_distinct(list(lang))), ',')
        |    AS langs
        |FROM f WHERE fp IS NOT NULL GROUP BY fp
        |HAVING count(*) >= 2 AND count(DISTINCT lang) >= 2
        |ORDER BY canonical_id""".stripMargin)),

    // INCREMENTAL script-aware dedup — the q330 index/probe shape
    // under the scripted fold: the corpus (< 300) holds the
    // fingerprint index and each delta doc (≥ 300) is flagged with
    // its matched canonical and cluster language set. A zh delta doc
    // now MATCHES the corpus copy of its content where the Latin
    // fold NULLed it through; same one aggregation + one left
    // equi-join, stream-static ready.
    "q394_script_incremental" -> Query((s, dir) => {
      val docs = scriptSynth(T(s, dir, "documents"))
      graft.operators.CrossLingual.flagIncrementalScripted(
          docs.filter(col("doc_id") >= 300),
          docs.filter(col("doc_id") < 300),
          "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    },
      HashOracles.q394ScriptIncremental(300L)),

    // IVF index DRIFT audit — the retrain signal the append-fold
    // Scaladoc warns about, MEASURED: the base half builds the index
    // (centroids trained on it), a deterministically DRIFTED half
    // folds in via append (centroids stand still), and the per-list
    // profile compares the two populations' mean squared distance to
    // their own centroid. Appended rows sitting measurably farther is
    // what schedules the re-train + rewrite. Map-only distance
    // against the bounded sidecar matrix; means cross engines as
    // exact 1e-6-grid integer sums.
    "q395_ivf_drift_audit" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 2 === 0)
      val drifted = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          expr("transform(embedding, (v, i) -> v + CASE WHEN i = 0 " +
            "THEN CAST(0.5 AS FLOAT) ELSE CAST(0.0 AS FLOAT) END)")
            .as("embedding"))
      val cents = graft.operators.Clustering.kmeansCentroids(
        base, "vec_id", "embedding", k = 8, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q395_drift_ivf").getAbsolutePath
      graft.operators.Similarity.writeIvfIndex(base, "vec_id",
        "embedding", path, cents)
      graft.operators.Similarity.appendToIvfIndex(drifted, "vec_id",
        "embedding", path)
      graft.operators.Similarity.ivfListProfile(s, path)
        .withColumn("__nano",
          floor(col("dist") * 1e6 + lit(0.5)).cast("long"))
        .withColumn("__app", (col("id") % 2 === 1).cast("int"))
        .groupBy(col("list_id"))
        .agg(sum(lit(1) - col("__app")).cast("long").as("n_base"),
          sum(col("__app")).cast("long").as("n_appended"),
          sum(when(col("__app") === 0, col("__nano"))).as("__sb"),
          sum(when(col("__app") === 1, col("__nano"))).as("__sa"))
        .select(col("list_id"), col("n_base"), col("n_appended"),
          graft.functions.Grid.snap(col("__sb").cast("double") /
            (lit(1e6) * col("n_base").cast("double")), 6)
            .as("mean_dist_base"),
          graft.functions.Grid.snap(col("__sa").cast("double") /
            (lit(1e6) * col("n_appended").cast("double")), 6)
            .as("mean_dist_appended"))
        .orderBy(col("list_id"))
    },
      HashOracles.q395IvfDriftAudit(8)),

    // IVF MAINTENANCE PLAN — the q395 drift signal turned into the
    // decision a nightly index-keeper executes (the r15 next-round
    // candidate): same base-write + drifted-append lifecycle, then
    // per list the REAL on-disk file count (driver FS listing of the
    // <= nLists partition dirs — a bounded fact) and the action:
    // retrain when the appended population sits > 1.5x farther than
    // the base build, compact when the dir holds > 1 file, ok
    // otherwise. Audit chain is map-only distance + one aggregation;
    // the file-count join is a broadcast of a <= nLists literal frame.
    "q400_ivf_maintenance" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 2 === 0)
      val drifted = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          expr("transform(embedding, (v, i) -> v + CASE WHEN i = 0 " +
            "THEN CAST(2.0 AS FLOAT) ELSE CAST(0.0 AS FLOAT) END)")
            .as("embedding"))
      val cents = graft.operators.Clustering.kmeansCentroids(
        base, "vec_id", "embedding", k = 8, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q400_maint_ivf").getAbsolutePath
      graft.operators.Similarity.writeIvfIndex(base, "vec_id",
        "embedding", path, cents)
      graft.operators.Similarity.appendToIvfIndex(drifted, "vec_id",
        "embedding", path)
      val audit = graft.operators.Similarity.ivfListProfile(s, path)
        .withColumn("__nano",
          floor(col("dist") * 1e6 + lit(0.5)).cast("long"))
        .withColumn("__app", (col("id") % 2 === 1).cast("int"))
        .groupBy(col("list_id"))
        .agg(sum(lit(1) - col("__app")).cast("long").as("n_base"),
          sum(col("__app")).cast("long").as("n_appended"),
          sum(when(col("__app") === 0, col("__nano"))).as("__sb"),
          sum(when(col("__app") === 1, col("__nano"))).as("__sa"))
        .select(col("list_id"), col("n_base"), col("n_appended"),
          graft.functions.Grid.snap(col("__sb").cast("double") /
            (lit(1e6) * col("n_base").cast("double")), 6)
            .as("mean_dist_base"),
          graft.functions.Grid.snap(col("__sa").cast("double") /
            (lit(1e6) * col("n_appended").cast("double")), 6)
            .as("mean_dist_appended"))
      graft.operators.Similarity.ivfMaintenancePlan(s, path, audit,
          retrainRatio = 1.5, maxFilesPerList = 1)
        .orderBy(col("list_id"))
    },
      HashOracles.q400IvfMaintenance(8, 1.5, 1)),

    // THAI-FAMILY incremental dedup — the q394 index/probe shape over
    // the bigram-shingled synth, split on PARITY: the synth pair ids
    // are consecutive (one even, one odd), so every th/lo delta doc
    // has its run-preserving partner in the corpus and must flag
    // is_dup (and is_cross_lingual — the matched cluster carries the
    // other locale label), while the en controls' b values never
    // cross the parity line and come back clean. Same one index
    // aggregation + one left equi-join, stream-static ready.
    "q403_thai_incremental" -> Query((s, dir) => {
      val docs = thaiSynth(T(s, dir, "documents"))
      graft.operators.CrossLingual.flagIncrementalScripted(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    },
      HashOracles.q403ThaiIncremental),

    // AUDIO cross-corpus contamination — the q401 device for the
    // audio modality: eval CLIPS that are near-copies of training
    // audio (exact %4=0, +40-every-8th-sample %4=1, sample-REVERSED
    // fresh content %4 in {2,3}); both sides take the q328
    // two-channel perceptual hash through REAL WAV bytes, the probe
    // is the same banded equi-join + keyed best-match min.
    "q404_audio_contamination" -> Query((s, dir) => {
      val base = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor(CAST(v AS DOUBLE) * 10000.0))").as("samples"))
      val evalS = base
        .select((col("vec_id") + lit(200000L)).as("vec_id"),
          expr("CASE WHEN vec_id % 4 = 0 THEN samples " +
            "WHEN vec_id % 4 = 1 THEN transform(samples, (v, i) -> " +
            "CASE WHEN i % 8 = 0 THEN v + 40 ELSE v END) " +
            "ELSE reverse(samples) END").as("samples"))
      def hash(df: org.apache.spark.sql.DataFrame) =
        graft.operators.MediaDedup.audioHash(
          graft.operators.Multimodal.audioFrameFeatures(
            graft.operators.Multimodal.encodeWavPcm16(df, "vec_id",
              "samples"), frameLen = 2))
      val evalH = graft.CacheScope.register(hash(evalS).persist())
      val best = graft.operators.MediaDedup.crossNearDupBest(
        evalH, hash(base), maxHamming = 3)
      evalH.select(col("media_id"))
        .join(best, Seq("media_id"), "left")
        .select(col("media_id"),
          col("match_id").isNotNull.as("contaminated"),
          col("match_id"), col("hamming"))
        .orderBy(col("media_id"))
    },
      HashOracles.q404AudioContamination),

    // Per-host document CAP — the anti-domination stage (C4/RefinedWeb
    // cap per-domain contributions) right after URL dedup: host from
    // the canonical URL, score = token count, keep the best 10 per
    // host (score desc, id asc). ONE window keyed by host; every row
    // survives with its rank so the drop set is auditable.
    "q405_host_cap" -> Query((s, dir) => {
      val canon = webUrls(T(s, dir, "documents"))
        .withColumn("curl",
          graft.functions.Urls.canonicalize(col("url")))
        .withColumn("host",
          regexp_extract(col("curl"), "^[a-z]+://([^/:?#]+)", 1))
        .select(col("doc_id"), col("host"),
          size(toks(col("text"))).cast("long").as("n_tokens"))
      graft.operators.UrlDedup.capPerHost(canon, "doc_id", "host",
          "n_tokens", maxPerHost = 10)
        .orderBy(col("host"), col("host_rank"))
    },
      HashOracles.q405HostCap),

    // Duplicated-LINE removal (CCNet's line-grain hygiene pass): lines
    // occurring in > maxDf distinct documents (planted header/footer
    // template variants + whatever middles the fixture duplicates)
    // are deleted IN PLACE, the rest of each document survives with
    // its line order intact. Line explode → (line, df) → un-hinted
    // join back → per-doc ordered rebuild.
    "q406_line_dedup" -> Query((s, dir) =>
      graft.operators.Boilerplate.removeDuplicatedLines(
          lineSynth(T(s, dir, "documents")), "doc_id", "text",
          maxDf = 5)
        .select(col("doc_id"), col("lang"), col("n_lines"),
          col("n_removed"), col("clean_text"))
        .orderBy(col("doc_id")),
      HashOracles.q406LineDedup),

    // Exact Wasserstein-1 drift of each source's token-count
    // distribution vs the REST of the corpus — the transport-cost
    // drift gauge (KL/JS q135 ignore the metric's geometry, KS q277
    // reads one point). Histogram register + keyed CDF windows,
    // DECIMAL(38) integer terms, one final division on the 1e-6 grid.
    "q407_wasserstein_drift" -> Query((s, dir) =>
      graft.operators.Divergence.wasserstein1By(
          T(s, dir, "documents").select(col("source"),
            size(toks(col("text"))).cast("long").as("n_toks")),
          "source", "n_toks")
        .orderBy(col("source")),
      HashOracles.q407Wasserstein),

    // WIDTH-fold dedup — fullwidth ASCII twins (ＧＰＵ２０２４ vs
    // gpu2024, the zh/ja mixed-script duplicate class): per planted
    // pair the scripted fingerprint alone keeps 2 keys (fullwidth
    // Latin is still \p{L} — under-merge), the width-folded
    // fingerprint collapses them to 1. Same one-aggregation shape.
    "q408_width_fold_dedup" -> Query((s, dir) =>
      widthSynth(T(s, dir, "documents"))
        .select(col("pair_id"),
          graft.operators.CrossLingual
            .foldedFingerprintScripted(col("text")).as("__fs"),
          graft.operators.CrossLingual
            .foldedFingerprintWide(col("text")).as("__fw"))
        .groupBy(col("pair_id"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("__fs")).as("n_keys_scripted"),
          countDistinct(col("__fw")).as("n_keys_width"))
        .orderBy(col("pair_id")),
      HashOracles.q408WidthFold),

    // Per-HOST retention funnel — the q382 RefinedWeb chain re-read at
    // host grain and CLOSED with the q405 cap: URL-canonical dedup →
    // folded-fingerprint dedup → quality gate → best-5-per-host cap,
    // counts at every stage plus the final token budget. The corpus
    // owner's per-host answer to "where did my crawl go".
    "q409_host_retention" -> Query((s, dir) => {
      val docs = webUrls(T(s, dir, "documents"))
        .withColumn("curl",
          graft.functions.Urls.canonicalize(col("url")))
        .withColumn("host",
          regexp_extract(col("curl"), "^[a-z]+://([^/:?#]+)", 1))
        .select(col("doc_id"), col("text"), col("host"), col("curl"))
      val idx = docs.filter(col("curl").isNotNull)
        .groupBy(col("curl")).agg(min(col("doc_id")).as("__mid"))
      val afterUrl = docs.join(idx, Seq("curl"), "left")
        .filter(col("__mid").isNull || col("doc_id") === col("__mid"))
        .select(col("doc_id"), col("text"), col("host"))
      val withFp = afterUrl.withColumn("fp",
        graft.operators.CrossLingual.foldedFingerprint(col("text")))
      val canon = withFp.filter(col("fp").isNotNull)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("__fc"))
      val afterFp = withFp.join(canon, Seq("fp"), "left")
        .filter(col("__fc").isNull || col("doc_id") === col("__fc"))
        .select(col("doc_id"), col("text"), col("host"))
      val kept = graft.operators.QualityFilters.keep(
          afterFp.withColumn("toks", toks(col("text"))), "text",
          graft.operators.QualityFilters.Thresholds(minTokens = 30,
            maxTokens = 10000, maxDupNgramFraction = 0.05),
          tokensCol = Some("toks"))
        .select(col("doc_id"), col("host"),
          size(col("toks")).cast("long").as("n_tokens"))
      val capped = graft.operators.UrlDedup.capPerHost(kept, "doc_id",
          "host", "n_tokens", maxPerHost = 5)
        .filter(col("is_kept"))
      def hostCount(df: DataFrame, name: String) =
        df.groupBy(col("host")).agg(count(lit(1)).as(name))
      hostCount(docs, "n_raw")
        .join(hostCount(afterUrl, "n_after_url"), Seq("host"), "left")
        .join(hostCount(afterFp, "n_after_fp"), Seq("host"), "left")
        .join(hostCount(kept, "n_quality"), Seq("host"), "left")
        .join(capped.groupBy(col("host"))
          .agg(count(lit(1)).as("n_capped"),
            sum(col("n_tokens")).as("tokens_capped")),
          Seq("host"), "left")
        .na.fill(0L, Seq("n_after_url", "n_after_fp", "n_quality",
          "n_capped", "tokens_capped"))
        .orderBy(col("host"))
    },
      HashOracles.q409HostRetention),

    // Code-switch audit — chunk-grain language votes over documents
    // that OPEN English and drift into a planted German/French tail:
    // per doc the per-language chunk counts, majority language and
    // the is_mixed verdict. ZERO shuffles — the chunk loop is a
    // per-row transform over the token array.
    "q410_codeswitch_audit" -> Query((s, dir) =>
      graft.operators.CrossLingual.codeSwitchAudit(
          mixSynth(T(s, dir, "documents")), "doc_id", "text",
          chunkTokens = 8)
        .select(col("doc_id"), col("n_chunks"), col("n_en"),
          col("n_de"), col("n_fr"), col("n_und"), col("primary_lang"),
          col("n_langs"), col("is_mixed"))
        .orderBy(col("doc_id")),
      HashOracles.q410CodeSwitch),

    // INVISIBLE-character dedup — the canonical key stack closed
    // (q411): ZWSP/soft-hyphen/BOM re-crawl twins split tokens under
    // every fold so far (Cf chars become boundaries); the full stack
    // strip → width → scripted collapses each planted pair to one
    // key while the width key alone keeps two. Same one-aggregation
    // cluster shape as q408.
    "q411_invisible_dedup" -> Query((s, dir) =>
      invisSynth(T(s, dir, "documents"))
        .select(col("pair_id"),
          graft.operators.CrossLingual
            .foldedFingerprintWide(col("text")).as("__fw"),
          graft.operators.CrossLingual
            .foldedFingerprintCanonical(col("text")).as("__fc"))
        .groupBy(col("pair_id"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("__fw")).as("n_keys_wide"),
          countDistinct(col("__fc")).as("n_keys_canonical"))
        .orderBy(col("pair_id")),
      HashOracles.q411InvisibleDedup),

    // Two-sample exact Wasserstein-1 (q412): en vs de token-count
    // histograms through the SAME core as q407's group-vs-rest (and
    // a stream's per-batch Streams.perBatch scoring) — the snapshot-vs-
    // snapshot drift number, one row.
    "q412_w1_two_sample" -> Query((s, dir) => {
      val d = T(s, dir, "documents")
      def hist(l: String) = graft.streaming.DriftStream.valueCounts(
        d.filter(col("lang") === l)
          .select(size(toks(col("text"))).cast("long").as("n")), "n")
      graft.operators.Divergence.wasserstein1(hist("en"), hist("de"),
        "v", "c")
    },
      HashOracles.q412W1TwoSample),

    // Character-entropy quality gauge (q413): per-doc Shannon entropy
    // of the CHARACTER mix (the q182 entropyProfile at char grain) —
    // the encoding-corruption / char-spam detector word-level rules
    // miss (a doc of 150 'a's has healthy token counts at n=1).
    // Planted spam rows (%10 = 0) read entropy_norm far below prose.
    "q413_char_entropy" -> Query((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 0,
          concat(lit("error "), repeat(lit("a"), 150)))
          .otherwise(col("text")).as("text"))
      val chars = docs.select(col("doc_id"),
        explode(filter(split(col("text"), ""),
          c => length(c) > 0)).as("ch"))
      graft.operators.Robust.entropyProfile(chars, "doc_id", "ch")
        .withColumn("is_garbled", col("entropy_norm") < 0.35)
        .orderBy(col("doc_id"))
    },
      HashOracles.q413CharEntropy),

    // Script-vs-label mislabel audit (q414): per-doc script profile
    // (map-only removal counts) + the verdict — the fixture's zh rows
    // carry Latin text, so every one of them flags: exactly the
    // URL-pattern-assigned locale tag this audit exists to catch.
    "q414_script_mislabel" -> Query((s, dir) =>
      graft.operators.CrossLingual.scriptProfile(
          T(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("text")),
          "doc_id", "text")
        .withColumn("is_suspect",
          (col("lang") === "zh" && col("han_share") < 0.2) ||
            (col("lang").isin("en", "de", "fr", "es") &&
              col("han_share") > 0.5))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_han"), col("n_latin"), col("n_cyrillic"),
          col("n_thai_family"), col("n_arabic"), col("han_share"),
          col("latin_share"), col("dominant_script"),
          col("is_suspect"))
        .orderBy(col("doc_id")),
      HashOracles.q414ScriptMislabel),

    // Canonical-stack INCREMENTAL dedup (q415): the q394 index/probe
    // shape under foldedFingerprintCanonical — width-respelled,
    // BOM/soft-hyphen-dressed delta twins match their plain corpus
    // partners (and read cross-lingual: zh-tw label vs the indexed
    // zh). One index aggregation + one left equi-join, stream-ready.
    "q415_canonical_incremental" -> Query((s, dir) => {
      val sy = canonSynth(T(s, dir, "documents"))
      graft.operators.CrossLingual.flagIncrementalCanonical(
          sy.filter(col("doc_id") % 2 === 1),
          sy.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    },
      HashOracles.q415CanonicalIncremental),

    // URL blocklist gate (q416): the pre-fetch filter the published
    // recipes run FIRST — (host, path_prefix) rules matched against
    // the CANONICAL key so case/www/percent/dot-segment games cannot
    // dodge a rule; one host equi-join + one doc-grain verdict fold.
    // Planted: all of host4, host2's /docs/1 prefix.
    "q416_url_blocklist" -> Query((s, dir) => {
      import s.implicits._
      val rules = Seq(("host4.example.org", "/"),
        ("host2.example.org", "/docs/1")).toDF("host", "path_prefix")
      graft.operators.UrlDedup.applyBlocklist(
          webUrls(T(s, dir, "documents")), rules, "doc_id", "url")
        .orderBy(col("doc_id"))
    },
      HashOracles.q416UrlBlocklist),

    // IVF RETRAIN executed — the lifecycle CLOSED: the q400 decision's
    // 'retrain' action run for real (centroids re-trained on the
    // index's current contents — base ∪ drifted appends — and the
    // index rewritten), then the SAME audit + plan over the new
    // index. The headline the gate pins: post-retrain, the appended
    // population's per-list mean distance no longer alarms (actions
    // carry no 'retrain'/'compact' — fresh rewrite = 1 file/list).
    "q402_ivf_retrain" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 2 === 0)
      val drifted = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          expr("transform(embedding, (v, i) -> v + CASE WHEN i = 0 " +
            "THEN CAST(2.0 AS FLOAT) ELSE CAST(0.0 AS FLOAT) END)")
            .as("embedding"))
      val cents = graft.operators.Clustering.kmeansCentroids(
        base, "vec_id", "embedding", k = 8, iters = 2)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q402_src_ivf").getAbsolutePath
      val dest = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q402_retrained_ivf").getAbsolutePath
      graft.operators.Similarity.writeIvfIndex(base, "vec_id",
        "embedding", path, cents)
      graft.operators.Similarity.appendToIvfIndex(drifted, "vec_id",
        "embedding", path)
      graft.operators.Similarity.retrainIvfIndex(s, path, dest,
        k = 8, iters = 2)
      val audit = graft.operators.Similarity.ivfListProfile(s, dest)
        .withColumn("__nano",
          floor(col("dist") * 1e6 + lit(0.5)).cast("long"))
        .withColumn("__app", (col("id") % 2 === 1).cast("int"))
        .groupBy(col("list_id"))
        .agg(sum(lit(1) - col("__app")).cast("long").as("n_base"),
          sum(col("__app")).cast("long").as("n_appended"),
          sum(when(col("__app") === 0, col("__nano"))).as("__sb"),
          sum(when(col("__app") === 1, col("__nano"))).as("__sa"))
        .select(col("list_id"), col("n_base"), col("n_appended"),
          graft.functions.Grid.snap(col("__sb").cast("double") /
            (lit(1e6) * col("n_base").cast("double")), 6)
            .as("mean_dist_base"),
          graft.functions.Grid.snap(col("__sa").cast("double") /
            (lit(1e6) * col("n_appended").cast("double")), 6)
            .as("mean_dist_appended"))
      graft.operators.Similarity.ivfMaintenancePlan(s, dest, audit,
          retrainRatio = 1.5, maxFilesPerList = 1)
        .orderBy(col("list_id"))
    },
      HashOracles.q402IvfRetrain(8, 1.5, 1)),

    // CROSS-MODAL contamination — eval IMAGES that are pixel-level
    // near-copies of training images (the leakage class the token
    // gates q71/q162 and the embedding gate q393 never see): train =
    // the q235 corpus, eval = planted exact copies (%4=0), +3-every-
    // 16th-pixel perturbations (%4=1), and pixel-REVERSED fresh
    // content (%4 in {2,3}) that must come back clean; both sides
    // aHash through the REAL codec, probe = the 4-block band
    // equi-join + keyed best-match min (never all-pairs), verdict a
    // left join over the eval set.
    "q401_crossmodal_contamination" -> Query((s, dir) => {
      val base = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val evalPx = base
        .select((col("vec_id") + lit(200000L)).as("vec_id"),
          expr("CASE WHEN vec_id % 4 = 0 THEN pixels " +
            "WHEN vec_id % 4 = 1 THEN transform(pixels, (p, i) -> " +
            "CASE WHEN i % 16 = 0 THEN least(p + 3, 255D) ELSE p " +
            "END) ELSE reverse(pixels) END").as("pixels"))
      def hash(px: org.apache.spark.sql.DataFrame) =
        graft.operators.MediaDedup.averageHash(
          graft.operators.Multimodal.asMedia(
            graft.operators.Multimodal.encodePng(px, "vec_id",
              "pixels", side = 8), "media_id", "media"))
      // decode-once: the eval hashes feed both the probe and the
      // verdict join — cache the HASH frame (6 longs/row), never
      // re-run the codec pass
      val evalH = graft.CacheScope.register(hash(evalPx).persist())
      val best = graft.operators.MediaDedup.crossNearDupBest(
        evalH, hash(base), maxHamming = 3)
      evalH.select(col("media_id"))
        .join(best, Seq("media_id"), "left")
        .select(col("media_id"),
          col("match_id").isNotNull.as("contaminated"),
          col("match_id"), col("hamming"))
        .orderBy(col("media_id"))
    },
      HashOracles.q401CrossmodalContamination),

    // Semantic DECONTAMINATION readout — q393's flags applied: which
    // training documents drop, accounted per language (the corpus
    // owner's view of the cut). One distinct on the flagged set + one
    // broadcast-size language join + one aggregation.
    "q396_semantic_decontamination" -> Query((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = T(s, dir, "embeddings")
      val bench = e.filter(col("vec_id") < 100)
      val train = e.filter(col("vec_id") >= 100)
      val cents = graft.operators.Clustering.kmeansCentroids(
        train, "vec_id", "embedding", k = 16, iters = 2)
      val VF = graft.functions.VectorFunctions
      val tr = VF.prepForPairs(train, "vec_id", "embedding")
        .withColumn("__list", element_at(
          graft.operators.Clustering.nearestLists(col("vd"), cents, 1),
          1))
      val pr = VF.prepForPairs(bench, "vec_id", "embedding")
        .withColumn("__list", explode(
          graft.operators.Clustering.nearestLists(col("vd"), cents, 4)))
      val flagged = pr.as("b").join(tr.as("t"), col("b.__list") ===
          col("t.__list"))
        .select(col("t.id").as("train_id"),
          graft.functions.Grid.snap(
            when(col("b.nrm") * col("t.nrm") === 0.0, lit(0.0))
              .otherwise(VF.fastDot(col("b.vd"), col("t.vd")) /
                (col("b.nrm") * col("t.nrm"))), 4).as("cos"))
        .filter(col("cos") >= 0.35)
        .select(col("train_id")).distinct()
      val langs = T(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      train.select(col("vec_id")).join(langs, Seq("vec_id"))
        .join(flagged.withColumn("__f", lit(1)),
          col("vec_id") === col("train_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_train"),
          sum(coalesce(col("__f"), lit(0))).cast("long")
            .as("n_flagged"))
        .select(col("lang"), col("n_train"), col("n_flagged"),
          (col("n_train") - col("n_flagged")).as("n_kept"),
          graft.functions.Grid.snap(col("n_flagged").cast("double") /
            col("n_train").cast("double"), 6).as("flag_rate"))
        .orderBy(col("lang"))
    },
      HashOracles.q396SemanticDecontamination(16, 4, 100L, 0.35)),

    // Script-aware KEEP-BEST election — the q344 quality-aware rule
    // on the scripted fold: each multilingual cluster keeps its
    // LONGEST copy (char length as the quality score, tie → smaller
    // id) instead of whichever crawled first. One keyed window over
    // cluster members.
    "q397_script_keep_best" -> Query((s, dir) =>
      graft.operators.CrossLingual.scriptAwareClustersKeepBest(
          scriptSynth(T(s, dir, "documents"))
            .withColumn("score", length(col("text")).cast("long")),
          "doc_id", "text", "lang", "score")
        .orderBy(col("canonical_id")),
      HashOracles.q397ScriptKeepBest),

    // Percent-encoding normalization in the URL dedup key (the q372
    // family, round-15): five crawl variants per target page —
    // variants 0-3 (%7E / %7e / literal '~' spellings, plus a
    // fragment whose '?' must NOT be read as a query) fold into one
    // canonical per page, while variant 4 keeps its normalized query
    // (?x=A%2F) and pins the query-normalization path (unreserved
    // decode %41 -> A, reserved case fold %2f -> %2F) as its OWN
    // canonical; the whole rule stays one codegen'd Column program
    // and dedup stays one hash aggregation on the derived key.
    "q390_url_percent_norm" -> Query((s, dir) => {
      val urls = T(s, dir, "documents")
        .select(col("doc_id"), expr("doc_id div 5").as("__base"))
        .withColumn("__h", concat(lit("https://host"),
          col("__base") % 7, lit(".example.org")))
        .withColumn("url",
          when(col("doc_id") % 5 === 0, concat(col("__h"),
            lit("/%7Euser"), col("__base"), lit("/docs")))
          .when(col("doc_id") % 5 === 1, concat(col("__h"),
            lit("/~user"), col("__base"), lit("/docs")))
          .when(col("doc_id") % 5 === 2, concat(col("__h"),
            lit("/%7euser"), col("__base"), lit("/docs")))
          .when(col("doc_id") % 5 === 3, concat(col("__h"),
            lit("/~user"), col("__base"), lit("/docs#sec?x="),
            col("doc_id")))
          .otherwise(concat(col("__h"), lit("/~user"), col("__base"),
            lit("/docs?x=%41%2f&utm_source=z"))))
      urls
        .groupBy(graft.functions.Urls.canonicalize(col("url"))
          .as("canonical_url"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw"),
          min(col("doc_id")).as("canonical_doc"))
        .orderBy(col("canonical_url"))
    },
      HashOracles.q390UrlPercent),

    // Dot-segment resolution in the URL dedup key (RFC 3986 §5.2.4,
    // the r15 what's-missing #1): five crawl variants per target
    // page — plain, '/./' noise, '/tmp/../' detour, a leading '/..'
    // that must vanish at the root, and a '%2E' dot that only
    // becomes a dot segment AFTER percent normalization (plus a
    // trailing slash) — all fold into one canonical per page via
    // the bounded string-buffer fold inside the same Column
    // program; dedup stays one hash aggregation on the derived key.
    "q398_url_dotsegments" -> Query((s, dir) => {
      val urls = T(s, dir, "documents")
        .select(col("doc_id"), expr("doc_id div 5").as("__base"))
        .withColumn("__h", concat(lit("https://host"),
          col("__base") % 7, lit(".example.org")))
        .withColumn("url",
          when(col("doc_id") % 5 === 0, concat(col("__h"),
            lit("/docs/"), col("__base"), lit("/page")))
          .when(col("doc_id") % 5 === 1, concat(col("__h"),
            lit("/docs/./"), col("__base"), lit("/page")))
          .when(col("doc_id") % 5 === 2, concat(col("__h"),
            lit("/docs/tmp/../"), col("__base"), lit("/page")))
          .when(col("doc_id") % 5 === 3, concat(col("__h"),
            lit("/../docs/"), col("__base"), lit("/page")))
          .otherwise(concat(col("__h"), lit("/docs/%2E/"),
            col("__base"), lit("/page/"))))
      urls
        .groupBy(graft.functions.Urls.canonicalize(col("url"))
          .as("canonical_url"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw"),
          min(col("doc_id")).as("canonical_doc"))
        .orderBy(col("canonical_url"))
    },
      HashOracles.q398UrlDotSegments),

    // The pruning OPERATING-POINT curve: the q351 rank computed once,
    // swept over keep fractions {25, 50, 75}% via one bounded explode
    // (the q345 threshold-sweep device) — how a selection pipeline
    // prices each notch of strictness.
    "q358_prune_sweep" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 4, iters = 2)
      graft.operators.Clustering.pruneSweep(e, "vec_id", "embedding",
          cents, Seq(25, 50, 75))
        .orderBy(col("keep_pct"), col("cluster"))
    },
      HashOracles.q358PruneSweep(4, Seq(25, 50, 75))),

    // THREE-HASH CONSENSUS near-dup: aHash + dHash + pHash pair sets
    // on the planted corpus, full-outer joined on the pair key,
    // consensus = at least two of three modalities agree — the
    // production rule that suppresses each hash's solo false
    // positives without losing the true dups all three see.
    "q366_hash_consensus" -> Query((s, dir) => {
      val base = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val copies = base.filter(col("vec_id") % 3 < 2)
        .select((col("vec_id") + lit(100000L)).as("vec_id"),
          expr("CASE WHEN vec_id % 3 = 1 THEN transform(pixels, " +
            "(p, i) -> CASE WHEN i % 16 = 0 THEN least(p + 3, 255D) " +
            "ELSE p END) ELSE pixels END").as("pixels"))
      // decode-once: the cached frame is the POOLED GRID, so the
      // codec pass runs once for all three hash families (pre-r15 it
      // cached the PNG bytes and decoded 3x)
      val cells = graft.CacheScope.register(
        graft.operators.MediaDedup.pooledGrids(
          graft.operators.Multimodal.asMedia(
            graft.operators.Multimodal.encodePng(base.union(copies),
              "vec_id", "pixels", side = 8), "media_id", "media"))
          .persist())
      def flags(h: org.apache.spark.sql.DataFrame, nm: String) =
        graft.operators.MediaDedup.nearDupPairs(h, maxHamming = 3)
          .select(col("a_id"), col("b_id"), lit(true).as(nm))
      flags(graft.operators.MediaDedup.averageHashFromCells(cells),
          "in_ahash")
        .join(flags(graft.operators.MediaDedup
            .differenceHashFromCells(cells),
          "in_dhash"), Seq("a_id", "b_id"), "full_outer")
        .join(flags(graft.operators.MediaDedup
            .perceptualHashFromCells(cells),
          "in_phash"), Seq("a_id", "b_id"), "full_outer")
        .withColumn("in_ahash", coalesce(col("in_ahash"), lit(false)))
        .withColumn("in_dhash", coalesce(col("in_dhash"), lit(false)))
        .withColumn("in_phash", coalesce(col("in_phash"), lit(false)))
        .withColumn("consensus",
          (when(col("in_ahash"), 1).otherwise(0) +
            when(col("in_dhash"), 1).otherwise(0) +
            when(col("in_phash"), 1).otherwise(0)) >= 2)
        .orderBy(col("a_id"), col("b_id"))
    },
      // three-hash consensus: all three bit rules replayed, 2-of-3 vote
      HashOracles.q366HashConsensus(3)),

    // SENTENCE-LEVEL language-mix audit: split each doc on '.', run
    // the stopword langid per sentence, report per-doc sentence
    // count, distinct predicted languages, und-share and the mixed
    // flag — the polyglot-document detector that decides whether
    // doc-grain langid (q26/q340) can be trusted for routing.
    "q365_sentence_lang_mix" -> Query((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(filter(transform(split(col("text"), "\\."),
            x => trim(x)), x => length(x) > 0)).as("sentence"))
        .withColumn("s_lang", TF.langId(col("sentence")))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_sentences"),
          countDistinct(col("s_lang")).as("n_langs"),
          sum(when(col("s_lang") === "und", 1L).otherwise(0L))
            .as("n_und"))
        .withColumn("mixed", col("n_langs") > 1)
        .orderBy(col("doc_id")),
      // per-sentence langid replay: sentences aliased AS text so the
      // shared tokenizer/stopword fragments apply unchanged (the
      // FoldedFp aliasing trick)
      s"""WITH sen AS (SELECT doc_id, lang, trim(s) AS text FROM
         |  (SELECT doc_id, lang, unnest(string_split(text, '.')) AS s
         |   FROM documents) WHERE length(trim(s)) > 0),
         |sl AS (SELECT doc_id, lang, CASE
         | WHEN ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.DeStop)}
         |  AND ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.FrStop)}
         |  AND ${hitsSql(TF.EnStop)} > 0 THEN 'en'
         | WHEN ${hitsSql(TF.DeStop)} >= ${hitsSql(TF.FrStop)}
         |  AND ${hitsSql(TF.DeStop)} > 0 THEN 'de'
         | WHEN ${hitsSql(TF.FrStop)} > 0 THEN 'fr'
         | ELSE 'und' END AS s_lang FROM sen)
         |SELECT doc_id, lang,
         |  CAST(count(*) AS BIGINT) AS n_sentences,
         |  CAST(count(DISTINCT s_lang) AS BIGINT) AS n_langs,
         |  CAST(sum(CASE WHEN s_lang = 'und' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_und,
         |  count(DISTINCT s_lang) > 1 AS mixed
         |FROM sl GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin),

    // 64-bit DCT PERCEPTUAL HASH (pHash) of real decoded images — the
    // frequency-domain member of the hash family (aHash = brightness
    // layout, dHash = gradient): full 8×8 DCT-II over the pooled
    // raster with a 1e-9-snapped cosine table, index-ordered folds,
    // bit = coefficient above the AC mean. PNG lossless, so the
    // oracle recomputes every bit from the embeddings.
    "q364_image_phash" -> Query((s, dir) => {
      val px = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(px, "vec_id", "pixels",
          side = 8), "media_id", "media")
      graft.operators.MediaDedup.perceptualHash(media)
        .orderBy(col("media_id"))
    },
      // pHash: full DCT-II replay with the snapped cosine literals
      HashOracles.q364PHash),

    // DEDUP PREFLIGHT: the HLL sketch of per-language distinct folded
    // fingerprints next to the exact count — the cheap estimate a
    // 100 TB pipeline reads BEFORE paying the dedup shuffle (the
    // register pass is one (lang, idx) partial agg; no fingerprint
    // table ever materializes distinct).
    "q363_dedup_preflight" -> Query((s, dir) => {
      val f = graft.CacheScope.register(T(s, dir, "documents")
        .select(col("lang"), graft.operators.CrossLingual
          .foldedFingerprint(col("text")).as("fp"))
        .filter(col("fp").isNotNull)
        .persist())
      graft.operators.Sketches.hllEstimateBy(
          graft.operators.Sketches.hllRegistersBy(f, "lang", "fp", p = 6),
          "lang", p = 6)
        .join(f.groupBy(col("lang")).agg(
          countDistinct(col("fp")).cast("long").as("n_distinct"),
          count(lit(1)).as("n_docs")), Seq("lang"))
        .orderBy(col("lang"))
    },
      // dedup preflight: q123's HLL chain over folded fingerprints
      HashOracles.q363DedupPreflight(6)),

    // GROUPED k-center coreset: every embedding label gets its own
    // 4-round farthest-first trajectory, all labels advanced per
    // round in ONE distributed job (per-group CASE over the bounded
    // center literals + one keyed window argmax) — the stratified
    // selection a per-language pipeline runs.
    "q361_grouped_coreset" -> Query((s, dir) =>
      graft.operators.Coreset.kCenterGreedyGrouped(
        T(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 4)
        .orderBy(col("label"), col("k_idx")),
      // grouped k-center: per-label unrolled farthest-first rounds
      HashOracles.q361GroupedCoreset(4)),

    // DEDUP × QUALITY ablation grid (the FineWeb-style pipeline
    // ablation): per-doc survival flags under fold-fingerprint dedup
    // (min-id canonical, NULL fp passes) and the q327 quality rules,
    // then doc/token counts for all four on/off variants in one
    // bounded explode — the decision table behind "which stage pays".
    "q362_ablation_grid" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val f = docs.withColumn("fp",
        graft.operators.CrossLingual.foldedFingerprint(col("text")))
      val canon = f.filter(col("fp").isNotNull)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("canonical_id"))
      val kq = graft.operators.QualityFilters.keep(
          docs.withColumn("toks", toks(col("text"))), "text",
          graft.operators.QualityFilters.Thresholds(minTokens = 30,
            maxTokens = 10000, maxDupNgramFraction = 0.05),
          tokensCol = Some("toks"))
        .select(col("doc_id"), lit(true).as("__q"))
      f.join(canon, Seq("fp"), "left")
        .withColumn("__d", col("canonical_id").isNull ||
          col("doc_id") === col("canonical_id"))
        .join(kq, Seq("doc_id"), "left")
        .withColumn("__q", coalesce(col("__q"), lit(false)))
        .withColumn("__tk", TF.tokenCount(col("text")).cast("long"))
        .select(col("__d"), col("__q"), col("__tk"),
          explode(array(
            struct(lit(false).as("dd"), lit(false).as("qq")),
            struct(lit(false).as("dd"), lit(true).as("qq")),
            struct(lit(true).as("dd"), lit(false).as("qq")),
            struct(lit(true).as("dd"), lit(true).as("qq")))).as("v"))
        .withColumn("__keep", (!col("v.dd") || col("__d")) &&
          (!col("v.qq") || col("__q")))
        .groupBy(col("v.dd").as("dedup_on"), col("v.qq").as("quality_on"))
        .agg(sum(when(col("__keep"), 1L).otherwise(0L)).as("n_docs"),
          sum(when(col("__keep"), col("__tk")).otherwise(0L))
            .as("n_tokens"))
        .orderBy(col("dedup_on"), col("quality_on"))
    },
      // dedup x quality ablation: q327 fragments as flags, 4 variants
      HashOracles.q362AblationGrid),

    // SMOOTHER COMPARISON eval: per held-out language, mean per-doc
    // score under add-α (q100) vs interpolated Kneser–Ney (q355),
    // both trained on the same split — the eval a ccnet-style filter
    // reads before picking its LM. Per-doc values land on the 1e-4
    // grid BEFORE the per-language mean.
    "q359_smoothing_eval" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val tr = docs.filter(col("doc_id") < 250)
      val te = docs.filter(col("doc_id") >= 250)
      val lmA = graft.operators.NgramLm.train(tr, "doc_id", "text")
      val lmK = graft.operators.NgramLm.trainKn(tr, "doc_id", "text")
      val a = graft.operators.NgramLm.logProbScore(
        te, "doc_id", "text", lmA)
      val k = graft.operators.NgramLm.knLogProbScore(
        te, "doc_id", "text", lmK)
      te.select(col("doc_id"), col("lang"))
        .join(a.select(col("doc_id"), col("avg_lp")), Seq("doc_id"))
        .join(k.select(col("doc_id"), col("kn_lp")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          graft.functions.Grid.snap(avg(col("avg_lp")), 4)
            .as("addalpha_lp"),
          graft.functions.Grid.snap(avg(col("kn_lp")), 4).as("kn_lp"))
        .orderBy(col("lang"))
    },
      // smoother comparison: add-alpha chain + KN chain, shared split
      HashOracles.q359SmoothingEval(
      250, 0.75, 0.4)),

    // CORESET COVERAGE eval: the q352 k-center selection vs the
    // first-k-ids baseline — each point's min distance to its center
    // set (map-only vs the bounded center literal, 1e-6 snap), max
    // and mean per method. The farthest-first set must cover at a
    // radius no worse than the naive pick.
    "q360_coreset_coverage" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val sel = graft.operators.Coreset.centers(
        e, "vec_id", "embedding", k = 6)
      val base = e.orderBy(col("vec_id")).limit(6)
        .select(transform(col("embedding"), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toSeq).toSeq
      def cov(cs: Seq[Seq[Double]], m: String) =
        graft.operators.Coreset.assignToCenters(e, "embedding", cs)
          .select(lit(m).as("method"), col("cover_dist_sq"))
      cov(sel, "kcenter").union(cov(base, "first_k"))
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_points"),
          max(col("cover_dist_sq")).as("max_cover"),
          graft.functions.Grid.snap(avg(col("cover_dist_sq")), 4)
            .as("mean_cover"))
        .orderBy(col("method"))
    },
      // coreset coverage: q352 selection vs first-k baseline
      HashOracles.q360CoresetCoverage(6)),

    // CHARACTER-COVERAGE audit (SentencePiece's character_coverage,
    // Kudo & Richardson 2018): per coverage target, the minimal base
    // alphabet size — shortest (count DESC, char ASC) prefix reaching
    // target_bp basis points of all char occurrences, by exact
    // integer cross-multiplication. Alphabet bounded by contract;
    // the prefix scan is a driver fold over the bounded count table.
    "q357_char_coverage" -> Query((s, dir) =>
      graft.operators.TokenizerTraining.charCoverage(
        T(s, dir, "documents"), "text",
        targetsBp = Seq(9000, 9900, 9950, 9995, 10000))
        .orderBy(col("target_bp")),
      // character coverage: integer cross-multiplied prefix rank
      HashOracles.q357CharCoverage(
      Seq(9000, 9900, 9950, 9995, 10000))),

    // aHash vs dHash AGREEMENT on the q236 planted image corpus: the
    // difference hash (cyclic row gradient — brightness-invariant
    // where aHash is layout-invariant) hashes the same decoded
    // rasters, both near-dup pair sets full-outer join on the pair
    // key, per-modality hammings NULL outside their own set — the
    // audit that says one perceptual hash cannot silently stand in
    // for the other (the q346 cross-modal story, within-modality).
    "q356_dhash_agreement" -> Query((s, dir) => {
      val base = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val copies = base.filter(col("vec_id") % 3 < 2)
        .select((col("vec_id") + lit(100000L)).as("vec_id"),
          expr("CASE WHEN vec_id % 3 = 1 THEN transform(pixels, " +
            "(p, i) -> CASE WHEN i % 16 = 0 THEN least(p + 3, 255D) " +
            "ELSE p END) ELSE pixels END").as("pixels"))
      // decode-once: cache the pooled grid, not the PNG bytes — one
      // codec pass feeds both hash families (the q366 convention)
      val cells = graft.CacheScope.register(
        graft.operators.MediaDedup.pooledGrids(
          graft.operators.Multimodal.asMedia(
            graft.operators.Multimodal.encodePng(base.union(copies),
              "vec_id", "pixels", side = 8), "media_id", "media"))
          .persist())
      val aP = graft.operators.MediaDedup.nearDupPairs(
          graft.operators.MediaDedup.averageHashFromCells(cells),
          maxHamming = 3)
        .withColumnRenamed("hamming", "a_hamming")
      val dP = graft.operators.MediaDedup.nearDupPairs(
          graft.operators.MediaDedup.differenceHashFromCells(cells),
          maxHamming = 3)
        .withColumnRenamed("hamming", "d_hamming")
      aP.join(dP, Seq("a_id", "b_id"), "full_outer")
        .orderBy(col("a_id"), col("b_id"))
    },
      // aHash vs dHash near-dup agreement on the planted image corpus
      HashOracles.q356DhashAgreement(3)),

    // SECRET-SHARER canary exposure (Carlini et al. 2019) — the
    // memorization audit: plant a canary r ∈ {0, 2, 8} times, train
    // the trigram LM each time, rank the secret among 64 hold-out
    // candidates differing only in the slot token. Scores are exact
    // integer nanonat sums (with r = 0 every unseen candidate scores
    // the same grams — a float sum would leave the rank to summation
    // order), so the rank trajectory replays bit-identically.
    "q354_canary_exposure" -> Query((s, dir) =>
      graft.operators.Memorization.canaryExposure(
        T(s, dir, "documents"), "doc_id", "text",
        prefix = Seq("the", "secret", "access", "code", "is"),
        secret = "zq7canary",
        suffix = Seq("end", "of", "line"),
        nDecoys = 63, insertCounts = Seq(0, 2, 8))
        .orderBy(col("n_insert")),
      // Secret-Sharer exposure: per insertion count, augmented-corpus
      // trigram counts, nanonat candidate scores, exact integer rank
      HashOracles.q354CanaryExposure(
      Seq("the", "secret", "access", "code", "is"), "zq7canary",
      Seq("end", "of", "line"), 63, Seq(0, 2, 8))),

    // Interpolated KNESER–NEY bigram LM scoring (Kneser & Ney 1995;
    // Chen & Goodman 1998) — the production-grade smoothing upgrade
    // of q100's add-α bigram for ccnet-style perplexity filtering:
    // absolute discount D = 0.75 (exact in binary) interpolated with
    // the continuation probability. Train on doc_id < 250, score the
    // rest; per-doc mean ln-prob on the 1e-4 grid.
    "q355_kn_bigram" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val lm = graft.operators.NgramLm.trainKn(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      graft.operators.NgramLm.knLogProbScore(
          docs.filter(col("doc_id") >= 250), "doc_id", "text", lm)
        .orderBy(col("doc_id"))
    },
      // interpolated Kneser-Ney bigram scoring, full train+score replay
      HashOracles.q355KnBigram(250, 0.75)),

    // D4-STYLE selection capstone (Tirumala et al. 2023: document
    // de-duplication + diversification): ONE trained kmeans feeds
    // both stages — SemDeDup within-cluster cosine dedup (q93's
    // device, keep the min id) then SSL-prototype pruning of the
    // survivors (q351, keep the hardest 75% per cluster). Per-cluster
    // accounting with kept membership pinned by md5.
    "q353_d4_pipeline" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 4, iters = 2)
      val survivors = Similarity.semanticDedupTrained(
        e, "vec_id", "embedding", threshold = 0.4, centroids = cents,
        nAssign = 2)
      val pruned = graft.operators.Clustering.pruneEasiest(
          survivors, "vec_id", "embedding", cents, keepPct = 75)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_dedup"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          md5(concat_ws(",", transform(
            sort_array(collect_list(when(col("kept"), col("vec_id")))),
            x => x.cast("string")))).as("kept_md5"))
      graft.operators.Clustering.assign(e, "vec_id", "embedding", cents)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .join(pruned, Seq("cluster"))
        .select(col("cluster"), col("n"), col("n_dedup"), col("n_kept"),
          col("kept_md5"))
        .orderBy(col("cluster"))
    },
      // D4 capstone: q93 SemDeDup chain -> q351 prune over survivors
      HashOracles.q353D4Pipeline(4, 0.4, 75)),

    // k-CENTER GREEDY coreset selection (Gonzalez 1985; the Sener &
    // Savarese active-learning coreset): a 6-round farthest-first
    // trajectory over the embeddings — (k_idx, selected vec_id, the
    // coverage radius² at selection time on the 1e-6 grid). Seed =
    // min id; each pick orders by (min-dist-to-selected DESC, id) so
    // the run replays bit-identically; each round is one map against
    // the bounded center literal + one TakeOrdered(1).
    "q352_kcenter_coreset" -> Query((s, dir) =>
      graft.operators.Coreset.kCenterGreedy(
        T(s, dir, "embeddings"), "vec_id", "embedding", k = 6)
        .orderBy(col("k_idx")),
      // k-center greedy: unrolled farthest-first rounds — see
      // HashOracles.q352KCenterCoreset
      HashOracles.q352KCenterCoreset(6)),

    // TRAINED language ID (fastText-recipe char-3-gram NB) evaluated
    // as a confusion grid on the held-out split — the production
    // upgrade of q323's fixed-stopword heuristic: covers all 5
    // labeled languages and learns from data. Scores are exact
    // integer nanonats (ln snapped once per gram), so the argmax
    // replays bit-identically.
    "q340_charngram_langid" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.TrainedLangId.train(
        docs.filter(split), "text", "lang")
      graft.operators.TrainedLangId.predict(
          docs.filter(!split), "doc_id", "text", model)
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    },
      HashOracles.q340CharNgramLangid(8000)),

    // Persisted-model round trip for the trained langid: train, WRITE
    // the model (distributed lp parquet + sidecar with the integer
    // class facts — integers are JSON-lossless), read it back from
    // disk, predict. The oracle is exactly q340's: the gate is that
    // the round trip changes NOTHING.
    "q343_langid_model_roundtrip" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q343_langid_model").getAbsolutePath
      graft.operators.TrainedLangId.writeModel(
        graft.operators.TrainedLangId.train(
          docs.filter(split), "text", "lang"), path)
      graft.operators.TrainedLangId.predict(
          docs.filter(!split), "doc_id", "text",
          graft.operators.TrainedLangId.readModel(s, path))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    },
      // the disk round trip must be invisible: q340's oracle verbatim
      HashOracles.q340CharNgramLangid(8000)),

    // Cross-lingual dedup with QUALITY-aware canonical election —
    // q319's clusters keeping the LONGEST copy (token count, tie
    // min id) instead of the first-crawled one: the keep-best rule a
    // production dedup stage actually wants when mirrored content
    // varies in completeness.
    "q344_xling_keepbest" -> Query((s, dir) =>
      graft.operators.CrossLingual.crossLingualClustersKeepBest(
          T(s, dir, "documents")
            .withColumn("n_tok", TF.tokenCount(col("text")).cast("long")),
          "doc_id", "text", "lang", "n_tok")
        .orderBy(col("fp")),
      // q319's fold + cluster CTEs with the keep-best election window
      s"""WITH f AS (SELECT doc_id, lang,
        |  CAST(len(${HashOracles.Toks}) AS BIGINT) AS score,
        |  ${HashOracles.FoldedFpSql} AS fp
        |  FROM documents),
        |c AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  array_to_string(list_sort(list_distinct(list(lang))), ',')
        |    AS langs
        |  FROM f WHERE fp IS NOT NULL GROUP BY fp
        |  HAVING count(*) >= 2 AND count(DISTINCT lang) >= 2),
        |b AS (SELECT fp, doc_id AS canonical_id,
        |  score AS canonical_score,
        |  row_number() OVER (PARTITION BY fp
        |    ORDER BY score DESC, doc_id) AS rn
        |  FROM f WHERE fp IS NOT NULL)
        |SELECT c.fp, c.n_docs, c.n_langs, b.canonical_id,
        |  b.canonical_score, c.langs
        |FROM c JOIN b ON b.fp = c.fp AND b.rn = 1
        |ORDER BY c.fp""".stripMargin),

    // Embedding-space drift monitor — PSI of the top-principal-
    // component projection between two corpus halves (the
    // crawl-over-crawl check an embedding pipeline runs before
    // trusting an index built on last month's distribution). The
    // projection is an ORDERED fold against the driver-collected
    // 64-value loading vector (a bounded fact), so each doc's bin is
    // a pure function of identical IEEE ops on both engines — the
    // hard PSI cut never sits on an accumulation-order boundary.
    "q347_embedding_drift_psi" -> Query((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val comp = graft.operators.Pca.topComponent(
        graft.operators.Pca.covarianceMatrix(emb, "embedding"),
        iters = 8)
      val loadings = comp.orderBy(col("i")).collect()
        .map(_.getAs[Double]("loading")).toSeq
      val proj = emb.select(col("vec_id"),
        aggregate(zip_with(
            transform(col("embedding"), x => x.cast("double")),
            typedLit(loadings), (x, w) => x * w),
          lit(0.0), (a, x) => a + x).as("proj"))
      graft.operators.Divergence.psi(proj, "proj",
        col("vec_id") % 2 === 0, lo = -2.0, hi = 2.0, nBins = 10)
    },
      // pcaWith's trained component, the ordered projection fold (the
      // `projection` helper discipline: list_reduce left fold ==
      // aggregate(zip_with) bit-for-bit), then the q283 PSI replay at
      // fixed cuts [-2, 2] x 10
      (pcaWith(64, 8) +
      """,
        |cl AS (SELECT list(loading ORDER BY i) AS lv FROM ld),
        |pr AS (SELECT e.vec_id, list_reduce(list_prepend(
        |    CAST(0.0 AS DOUBLE),
        |    list_transform(range(1, 65), j -> e.v[j] * cl.lv[j])),
        |    (a, x) -> a + x) AS proj FROM e, cl),
        |t AS (SELECT proj AS v, vec_id % 2 = 0 AS pre FROM pr
        |  WHERE proj IS NOT NULL),
        |b AS (SELECT CASE WHEN v < -2.0e0 THEN -1
        |    WHEN v >= 2.0e0 THEN 10
        |    ELSE CAST(floor((v - (-2.0e0)) / (2.0e0 - (-2.0e0)) * 10)
        |      AS INT) END AS bin,
        |  CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ref,
        |  CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_cur
        |  FROM t GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |  CAST(sum(n_cur) AS BIGINT) AS tc FROM b),
        |sc AS (SELECT bin, n_ref, n_cur,
        |  round((n_ref + 0.5e0) / (tr + 6.0e0), 6) AS p_ref,
        |  round((n_cur + 0.5e0) / (tc + 6.0e0), 6) AS p_cur
        |  FROM b, tt),
        |tm AS (SELECT *, round((p_ref - p_cur) * ln(p_ref / p_cur), 6)
        |  AS term FROM sc),
        |tot AS (SELECT CAST(FLOOR((list_reduce(list_prepend(0.0e0,
        |    list(term ORDER BY bin)),
        |    (a, x) -> CAST(FLOOR((a + x) * 1.0E6 + 0.5) AS DOUBLE)
        |      / 1.0E6)) * 1.0E4 + 0.5) AS DOUBLE) / 1.0E4
        |  AS psi FROM tm)
        |SELECT bin, n_ref, n_cur, p_ref, p_cur, term, psi
        |FROM tm, tot ORDER BY bin""".stripMargin)),

    // CROSS-MODAL dedup agreement — do the image-hash and the
    // embedding near-dup stages flag the SAME pairs? One corpus
    // (originals ∪ slightly-perturbed copies, the q236 plant, the
    // SAME perturbation feeding both modalities since the pixels ARE
    // the quantized embeddings), image pairs by aHash Hamming ≤ 3,
    // embedding pairs by within-list cosine ≥ 0.4, full-outer joined
    // into the 2×2 agreement table. The audit that says whether one
    // modality's dedup can stand in for the other.
    "q346_crossmodal_dedup_agreement" -> Query((s, dir) => {
      val d17 = graft.functions.Grid.lit17(3.0 / 127.5)
      val base = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))")
          .as("embedding"))
      val copies = base.filter(col("vec_id") % 3 < 2)
        .select((col("vec_id") + lit(100000L)).as("vec_id"),
          expr(s"transform(embedding, (v, i) -> v + CASE WHEN " +
            s"i % 16 = 0 THEN $d17 ELSE 0.0 END)").as("embedding"))
      val corpus = graft.CacheScope.register(
        base.union(copies).persist())
      val px = corpus.select(col("vec_id"),
        expr("transform(embedding, v -> floor((v + 1.0) * 127.5))")
          .as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(px, "vec_id", "pixels",
          side = 8), "media_id", "media")
      val img = graft.operators.MediaDedup.nearDupPairs(
          graft.operators.MediaDedup.averageHash(media), maxHamming = 3)
        .select(col("a_id"), col("b_id"), lit(true).as("img_dup"))
      val emb = graft.operators.Similarity.semanticDupPairs(
          corpus, "vec_id", "embedding", threshold = 0.4)
        .select(col("a_id"), col("b_id"), lit(true).as("emb_dup"))
      img.join(emb, Seq("a_id", "b_id"), "full_outer")
        .select(coalesce(col("img_dup"), lit(false)).as("img_dup"),
          coalesce(col("emb_dup"), lit(false)).as("emb_dup"))
        .groupBy(col("img_dup"), col("emb_dup"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("img_dup"), col("emb_dup"))
    },
      HashOracles.q346CrossmodalAgreement(0.4)),

    // Dedup operating-point sweep — the q335 cutoff device for
    // LEXICAL dedup: verified MinHash pairs at the loose 0.5 floor,
    // then pairs-surviving and docs-dropped per jaccard cutoff. The
    // curve a pipeline reads to pick its dedup threshold (how much
    // corpus does each notch of strictness cost).
    "q345_dedup_threshold_sweep" -> Query((s, dir) => {
      val pairs = graft.operators.Dedup.minhashNearDupPairs(
        T(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
      val cuts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
      pairs
        .select(col("a_id"), col("b_id"), col("jaccard"),
          explode(array(cuts.map(lit): _*)).as("cutoff"))
        .filter(col("jaccard") >= col("cutoff"))
        .groupBy(col("cutoff"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_dropped"))
        .orderBy(col("cutoff"))
    },
      HashOracles.q345DedupThresholdSweep(
      0.5, Seq(0.5, 0.6, 0.7, 0.8, 0.9))),

    // Multilingual corpus-pipeline CAPSTONE v6 — routed by the MODEL,
    // not the label column: train the char-ngram langid on the hash
    // seed, predict EVERY doc's language, cross-lingual-dedup over
    // the PREDICTED labels, α-sample the survivors under a token
    // budget keyed by predicted language. The deployment composition
    // (labels exist only for a seed set); three shared oracle
    // fragments, one chain.
    "q349_corpus_pipeline_langid" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val model = graft.operators.TrainedLangId.train(
        docs.filter(split), "text", "lang")
      val pred = graft.CacheScope.register(
        graft.operators.TrainedLangId.predict(
          docs, "doc_id", "text", model).persist())
      val clusters = graft.operators.CrossLingual
        .crossLingualClusters(pred, "doc_id", "text", "lang_pred")
        .select(col("fp"), col("canonical_id"))
      val deduped = pred
        .withColumn("fp", graft.operators.CrossLingual
          .foldedFingerprint(col("text")))
        .join(clusters, Seq("fp"), "left")
        .filter(col("canonical_id").isNull ||
          col("doc_id") === col("canonical_id"))
      graft.operators.Mixture.languageBudgetMix(deduped, "doc_id",
          "text", "lang_pred", budgetTokens = 15000L, alpha = 0.3)
        .orderBy(col("lang"))
    },
      HashOracles.q349LangidPipeline(8000, 15000L, 0.3)),

    // PRUNED langid at its deployment shape: the q340 model cut to
    // the top-512 grams (max-lp rank, deterministic tie), scoring as
    // one map-literal HOF fold per doc — no explode, no join, the
    // form that also runs statelessly on a stream (LangIdStream).
    // Dropped grams score through the OOV floor like true OOV.
    "q348_langid_pruned" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val cm = graft.operators.TrainedLangId.prune(
        graft.operators.TrainedLangId.train(
          docs.filter(split), "text", "lang"), topN = 512)
      graft.operators.TrainedLangId.predictCompact(
          docs.filter(!split), "text", cm)
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    },
      HashOracles.q340CharNgramLangid(8000, topN = Some(512))),

    // DoReMi-style mixture reweighting (Hedge/multiplicative weights
    // over domains): per-source hardness = underlength-doc rate (an
    // exact snapped ratio), 8 multiplicative-update rounds on the
    // 1e-6 integer grid — hard domains gain sampling mass, the
    // published Group-DRO inner step a corpus pipeline replays when
    // it applies mixture weights. Bounded domain table → driver fold
    // (the q202 discipline).
    "q341_doremi_weights" -> Query((s, dir) => {
      val losses = T(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(TF.tokenCount(col("text")) < 60, 1L).otherwise(0L))
            .as("__hard"))
        .withColumn("loss", graft.functions.Grid.snap(
          col("__hard").cast("double") / col("n_docs"), 4))
      graft.operators.Mixture.hedgeMixtureWeights(losses, "source",
          "loss", eta = 2.0, iters = 8)
        .join(losses.select(col("source"), col("n_docs"), col("loss")),
          Seq("source"))
        .select(col("source"), col("n_docs"), col("loss"), col("weight"))
        .orderBy(col("source"))
    },
      HashOracles.q341DoremiWeights(2.0, 8, 60)),

    // FOLD-ROBUST benchmark decontamination — the q113 5-gram
    // containment gate run over the q319 diacritic/case/punctuation
    // fold: an accent-stripped or re-punctuated copy of a benchmark
    // passage that plain 5-gram matching misses still matches here.
    // Benchmark = docs < 50; corpus rows carry their language and the
    // 0.2-containment verdict.
    "q342_folded_decontaminate" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val folded = docs.select(col("doc_id"),
        graft.operators.CrossLingual.foldText(col("text")).as("text"))
      graft.operators.Contamination.contaminationFraction(
          folded.filter(col("doc_id") >= 50), "doc_id", "text",
          folded.filter(col("doc_id") < 50), "text", n = 5)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_grams"),
          col("n_overlap"), col("contamination_frac"),
          (col("contamination_frac") >= 0.2).as("is_contaminated"))
        .orderBy(col("doc_id"))
    },
      HashOracles.q342FoldedDecontaminate(50, 0.2)),

    // Language-ID evaluation: the q26 stopword-profile heuristic
    // against the labeled lang column as a confusion grid — the
    // quality readout a filter pipeline needs before trusting
    // predicted language for routing/mixing.
    "q323_langid_eval" -> Query((s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred")),
      // langid confusion replay: the q26 stopword-profile CASE against
      // the labeled column
      s"""WITH p AS (SELECT lang, CASE
         | WHEN ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.DeStop)}
         |  AND ${hitsSql(TF.EnStop)} >= ${hitsSql(TF.FrStop)}
         |  AND ${hitsSql(TF.EnStop)} > 0 THEN 'en'
         | WHEN ${hitsSql(TF.DeStop)} >= ${hitsSql(TF.FrStop)}
         |  AND ${hitsSql(TF.DeStop)} > 0 THEN 'de'
         | WHEN ${hitsSql(TF.FrStop)} > 0 THEN 'fr'
         | ELSE 'und' END AS lang_pred
         |FROM documents)
         |SELECT lang, lang_pred, count(*) AS n FROM p
         |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin),

    // McNemar's paired-binary test: did the SAME users convert
    // differently in the month's two halves? Only discordant pairs
    // carry information; exact-long cells, one snapped division.
    "q313_mcnemar" -> Query((s, dir) => {
      val day = datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01")))
      val paired = events(s, dir).groupBy(col("user_id"))
        .agg(
          (sum(when(day < 15 && col("value") >= 60.0, 1L)
            .otherwise(0L)) > 0L).as("first_half"),
          (sum(when(day >= 15 && col("value") >= 60.0, 1L)
            .otherwise(0L)) > 0L).as("second_half"))
      graft.operators.Abtest.mcNemar(paired, "first_half",
        "second_half")
    },
      HashOracles.q313McNemar),

    // Kendall's tau-b between daily event count and daily value per
    // type — the pairwise companion to q309's Spearman: exact-long
    // concordance/tie counts from the capped pair join, one fixed
    // float tree at the snapped readout.
    "q314_kendall_tau" -> Query((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("day"))
        .agg(count(lit(1)).as("n_ev"),
          round(sum(col("value")), 2).as("rev"))
      graft.operators.RankCorr.kendallTauBy(daily, "event_type",
          "n_ev", "rev", maxPoints = 64)
        .orderBy(col("event_type"))
    },
      HashOracles.q314KendallTau(64)),

    // Kruskal-Wallis H across ALL five event types at once — the
    // k-arm rank test the two-arm Mann-Whitney guard excludes:
    // pooled midranks via the distributed sort-rank device, exact
    // per-arm rank sums, tie-corrected H against chi-square(k-1).
    "q315_kruskal_wallis" -> Query((s, dir) =>
      graft.operators.Abtest.kruskalWallis(events(s, dir),
        "event_type", "event_id", "value"),
      HashOracles.q315KruskalWallis),

    // Mann-Kendall trend test on daily revenue per priority — the
    // nonparametric is-there-a-trend companion to Theil-Sen's slope:
    // exact-long S and tie-corrected variance, one division + sqrt +
    // snapped z at the readout, the deterministic maxPoints cap.
    "q312_mann_kendall" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Robust.mannKendall(daily, "o_orderpriority",
          "day", "rev", maxPoints = 1024)
        .orderBy(col("o_orderpriority"))
    },
      HashOracles.q312MannKendall(1024)),

    // Experiment power planning: the per-arm sample sizes a two-sided
    // z-test needs per event type at 1/2/5% relative MDEs — μ̂/σ̂ from
    // explicit sums, the z-quantile factor driver-computed (Acklam
    // inverse normal) and shipped as a 17-digit literal. The sheet a
    // growth team reads before launching.
    "q311_power_analysis" -> Query((s, dir) =>
      graft.operators.Abtest.powerAnalysis(events(s, dir),
          "event_type", "value", mdes = Seq(0.01, 0.02, 0.05),
          alpha = 0.05, power = 0.8)
        .orderBy(col("event_type"), col("mde")),
      HashOracles.q311PowerAnalysis(Seq(0.01, 0.02, 0.05), 0.05, 0.8)),

    // Spearman rank correlation per event type: do busier days carry
    // more value? Midranks from keyed rank+tie-count windows (exact
    // integers-or-halves, doubled to longs), Pearson over exact long
    // sums — engine-exact end to end, outlier-immune where q304's
    // Pearson is not.
    "q309_spearman" -> Query((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("rev"))
      graft.operators.RankCorr.spearmanBy(daily, "event_type", "n",
          "rev")
        .orderBy(col("event_type"))
    },
      HashOracles.q309Spearman),

    // Cronbach's alpha over the per-user event-type count battery:
    // do a user's per-type activity levels move together? The
    // variance ratio collapses to exact-long sums sharing one
    // denominator — a single exact division at the readout.
    "q310_cronbach_alpha" -> Query((s, dir) =>
      graft.operators.Agreement.cronbachAlpha(
        events(s, dir).withColumn("one", lit(1L)),
        "user_id", "event_type", "one"),
      HashOracles.q310CronbachAlpha),

    // Murphy decomposition of the Brier score for the per-source
    // language-rate forecaster: train-split rates (exact-count
    // probabilities, snapped) audited on the test split — Brier =
    // reliability − resolution + uncertainty, the calibration QA for
    // any probability the selection pipeline trusts. Bounded-table
    // ordered fold for the group sums; unscored groups fail loudly.
    "q307_brier_decomposition" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("is_en", col("lang") === "en")
      val split = graft.operators.Sampling.hashBucket(col("doc_id")) < 8000
      val preds = docs.filter(split).groupBy(col("source"))
        .agg(graft.functions.Grid.snap(
          sum(when(col("is_en"), 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("p_hat"))
      graft.operators.Calibration.murphyDecomposition(
        docs.filter(!split), "source", "is_en", preds, "p_hat")
    },
      HashOracles.q307BrierDecomposition),

    // Centroid silhouette of the trained k-means: per vector one
    // fixed float expression over the two nearest centroid distances
    // (map-only against the k-row centroid literal — no pair join at
    // any corpus size); per-cluster mean/min. The k-choice sweep and
    // degenerate-cluster alarm in one register.
    "q308_silhouette" -> Query((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(emb,
        "vec_id", "embedding", k = 4, iters = 2)
      graft.operators.Clustering.centroidSilhouette(emb, "vec_id",
          "embedding", cents)
        .orderBy(col("cluster"))
    },
      HashOracles.q308Silhouette),

    // Fleiss' kappa over anonymous multi-rater labels: each user's
    // first 10 events (deterministic slice — Fleiss requires a fixed
    // m) "rate" the user with their event types; agreement above the
    // pooled-share chance rate. Every numerator an exact long;
    // divisions snap at the readout — engine-exact, no fold.
    "q305_fleiss_kappa" -> Query((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val first10 = events(s, dir)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 10)
      graft.operators.Agreement.fleissKappa(first10, "user_id",
        "event_type")
    },
      HashOracles.q305FleissKappa),

    // Nearest-rank propensity matching within exact strata: treated
    // (high-balance) customers pair with the same-rank control in
    // their market segment, unmatched tails drop (common support),
    // ATT = mean paired spend difference in EXACT cents. The causal
    // family's matching leg beside IPW (q267) and diff-in-diff
    // (q261). Keyed rank windows + one (strata, rank) equi-join.
    "q306_rank_matching" -> Query((s, dir) => {
      val spend = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("sp"))
      val units = T(s, dir, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"),
          (col("c_acctbal") >= 4500.0).as("treated"),
          col("c_acctbal"), col("c_custkey"),
          coalesce(col("sp"), lit(0.0)).as("spend"))
      graft.operators.Matching.rankMatchAtt(units, "c_mktsegment",
          "treated", "c_acctbal", "c_custkey", "spend", scale = 2)
        .orderBy(col("c_mktsegment"))
    },
      HashOracles.q306RankMatching),

    // Classical seasonal decomposition of the daily revenue series:
    // RANGE-window trend over t±3 calendar days summed in EXACT
    // cents (order-free — a float window avg accumulates in
    // engine-dependent order), one exact-int division per trend
    // cell, per-slot detrended means. The register a seasonal-naive
    // baseline or an HW init reads.
    "q301_seasonal_decompose" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Seasonal.decompose(daily, "o_orderpriority",
          "day", "rev", period = 7, scale = 2)
        .orderBy(col("o_orderpriority"), col("slot"))
    },
      HashOracles.q301SeasonalDecompose),

    // EWMA control chart over daily event counts per type: exact
    // integer Σy/Σy² center the chart engine-exactly, the smoothing
    // folds once per key on the grid snap, and the asymptotic
    // control limit is one sqrt of a driver constant shipped as a
    // 17-digit round-trip literal. The small-persistent-shift
    // monitor CUSUM's reset misses.
    "q302_ewma_control" -> Query((s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"),
            lit(java.sql.Date.valueOf("2024-01-01"))).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Robust.ewmaControl(daily, "event_type", "day",
          "n", lambda = 0.2, l = 3.0)
        .orderBy(col("event_type"))
    },
      HashOracles.q302EwmaControl(0.2, 3.0)),

    // Wald's SPRT per event type: the sequential test walks the
    // ordered outcome stream (success = value >= 30) accumulating
    // the snapped log-likelihood ratio of p1=.55 vs p0=.45 until it
    // crosses a Wald boundary — always-valid stopping instead of
    // the peeking anti-pattern. Constants ship as 17-digit
    // round-trip literals so the walk replays bit-exactly.
    "q303_sprt" -> Query((s, dir) =>
      graft.operators.Abtest.sprt(
          events(s, dir).withColumn("ok", col("value") >= 30.0),
          "event_type", "event_id", "ok", p0 = 0.45, p1 = 0.55,
          alpha = 0.05, beta = 0.05)
        .orderBy(col("event_type")),
      HashOracles.q303Sprt(0.45, 0.55, 0.05, 0.05, 30.0)),

    // Lagged cross-correlation between two priorities' daily revenue
    // series: does URGENT lead LOW? One bounded-lag self-join per k,
    // Pearson sums in exact cents, the corr as one fixed float
    // expression tree — engine-identical end to end.
    "q304_cross_correlation" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      val wide = daily.groupBy(col("day"))
        .agg(
          max(when(col("o_orderpriority") === "1-URGENT", col("rev")))
            .as("x"),
          max(when(col("o_orderpriority") === "5-LOW", col("rev")))
            .as("y"))
      graft.operators.Seasonal.crossCorrelation(wide, "day", "x", "y",
          maxLag = 6, scale = 2)
        .orderBy(col("lag"))
    },
      HashOracles.q304CrossCorrelation(6)),

    // Inter-annotator agreement — the labeled-data QA readout: two
    // heuristic "raters" bucket each user's engagement (event count
    // vs spend — correlated but not identical signals), and Cohen's
    // kappa + the linear-weighted kappa correct raw agreement for
    // chance. One corpus aggregation to the k×k confusion table;
    // all chance terms exact long cross-products; divisions snap at
    // the readout — engine-exact by construction, no fold.
    "q299_rater_agreement" -> Query((s, dir) => {
      val perUser = events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
          round(sum(col("value")), 2).as("val"))
        .select(
          when(col("n_ev") < 64, "b0").when(col("n_ev") < 75, "b1")
            .otherwise("b2").as("ra"),
          when(col("val") < 3100.0, "b0").when(col("val") < 3600.0, "b1")
            .otherwise("b2").as("rb"))
      graft.operators.Agreement.cohenKappa(perUser, "ra", "rb")
    },
      HashOracles.q299RaterAgreement),

    // PII column profiling — the governance pass before a release:
    // every string column scans against the portable pattern battery
    // (phone/email/IPv4/digit-run — identical search semantics in
    // Java regex and RE2) in ONE corpus pass; a column flags when
    // most of its values ARE the pattern. On this corpus c_name's
    // 9-digit id run flags digit_run; the rest read zero — the audit
    // result, not a vacuous one.
    "q300_pii_profile" -> Query((s, dir) =>
      graft.operators.PiiProfile.profile(T(s, dir, "customer"),
          Seq("c_mktsegment", "c_name"))
        .orderBy(col("column"), col("pattern")),
      HashOracles.q300PiiProfile("customer",
      Seq("c_mktsegment", "c_name"))),

    // Bradley–Terry preference strengths — the leaderboard device
    // behind preference-data curation: weekly revenue contests
    // between order priorities (winner = higher weekly revenue, ties
    // to the lesser name), collapsed ONCE to the bounded pair table,
    // then 10 MM rounds (Hunter 2004) of DataFrame algebra on that
    // table alone. Opponent terms fold in ascending-opponent order
    // (pinned IEEE order — no mid-fold snap needed), strengths snap
    // per round and anchor at the STRONGEST item (ties to the lesser
    // name — Preference.bradleyTerry's own doc explains why
    // first-item anchoring is wrong), so the whole trajectory
    // replays engine-exactly.
    "q298_bradley_terry" -> Query((s, dir) => {
      val weekly = T(s, dir, "orders")
        .withColumn("day", datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1992-01-01"))))
        .groupBy(col("o_orderpriority").as("pri"),
          expr("day DIV 7").as("wk"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      val a = weekly.select(col("wk"), col("pri").as("pa"),
        col("rev").as("ra"))
      val b = weekly.select(col("wk"), col("pri").as("pb"),
        col("rev").as("rb"))
      val contests = a.join(b, Seq("wk")).filter(col("pa") < col("pb"))
        .select(
          when(col("ra") >= col("rb"), col("pa")).otherwise(col("pb"))
            .as("winner"),
          when(col("ra") >= col("rb"), col("pb")).otherwise(col("pa"))
            .as("loser"))
      graft.operators.Preference.bradleyTerry(contests, "winner",
          "loser", rounds = 10)
        .orderBy(col("item"))
    },
      HashOracles.q298BradleyTerry(10)),

    // The flagship forecaster under the same honest evaluation: the
    // q253 Holt–Winters fold backtested at q290's three cutoffs —
    // fit the 9-cell seasonal state on history, forecast a week
    // ahead into the calendar-true slot, score against the window's
    // mean actual. One fold per (priority, cutoff), all on the grid
    // snap so every fold replays engine-exactly.
    "q297_hw_backtest" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Forecast.backtestHoltWinters(daily,
          "o_orderpriority", "day", "rev",
          cutoffs = Seq(1500L, 1800L, 2100L), period = 7,
          alpha = 0.3, beta = 0.05, gamma = 0.2, horizon = 7)
        .orderBy(col("o_orderpriority"), col("cutoff"))
    },
      HashOracles.q297HwBacktest(Seq(1500L, 1800L, 2100L), 7)),

    // Lexicon tagging (the LIWC/blocklist device): one broadcast
    // dictionary join tags every category at once; per-source
    // category mass profile — the moderation dashboard row.
    "q289_lexicon_profile" -> Query((s, dir) =>
      graft.operators.Keywords.lexiconProfile(
          T(s, dir, "documents"), "doc_id", "text", "source",
          Map("exec" -> Seq("join", "hash", "scan", "filter"),
            "data" -> Seq("row", "column", "batch")))
        .orderBy(col("source"), col("category")),
      s"""WITH lex(category, token) AS (VALUES
         |  ('exec', 'join'), ('exec', 'hash'), ('exec', 'scan'),
         |  ('exec', 'filter'), ('data', 'row'), ('data', 'column'),
         |  ('data', 'batch')),
         |tok AS (SELECT doc_id, len($ToksSql) AS n,
         |  unnest($ToksSql) AS token FROM documents),
         |tags AS (SELECT t.doc_id, l.category,
         |  max(t.n) AS n_tokens, count(*) AS n_hits
         |  FROM tok t JOIN lex l USING (token)
         |  GROUP BY t.doc_id, l.category)
         |SELECT d.source, g.category,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(g.n_hits) AS BIGINT) AS total_hits,
         |  round(CAST(sum(g.n_hits) AS DOUBLE) / sum(g.n_tokens), 6)
         |    AS mass_rate
         |FROM tags g JOIN documents d USING (doc_id)
         |GROUP BY d.source, g.category
         |ORDER BY d.source, g.category""".stripMargin),

    // Numeric WOE: exact quartile cuts from the gridded value
    // histogram (the KS-test contract) bin each event's spend, then
    // the q260 WOE/IV chain reads how spend size separates
    // purchases — the measure-typed half of the screening family.
    "q288_woe_numeric" -> Query((s, dir) =>
      graft.operators.Woe.woeNumericGrid(
          events(s, dir)
            .withColumn("y", col("event_type") === "purchase"),
          "value", "y")
        .orderBy(col("feature"), col("value")),
      """WITH ev AS (SELECT value AS v, event_type = 'purchase' AS y
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT v, count(*) AS c FROM ev GROUP BY v),
        |tn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
        |cmh AS (SELECT v, sum(c) OVER (ORDER BY v
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |ct AS (SELECT pct, min(v) AS cut FROM cmh, tn,
        |  (SELECT unnest([25, 50, 75]) AS pct)
        |  WHERE cum >= (pct * n + 99) // 100 GROUP BY pct),
        |cl AS (SELECT list_sort(list(cut)) AS cuts FROM ct),
        |m AS (SELECT 'vbin' AS feature, 'q' ||
        |  CAST(list_reduce(list_prepend(0, list_transform(cuts,
        |    c -> CASE WHEN v > c THEN 1 ELSE 0 END)),
        |    (a, x) -> a + x) + 1 AS VARCHAR) AS value, y
        |  FROM ev, cl),
        |bins AS (SELECT feature, value,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        |  FROM m GROUP BY feature, value),
        |tots AS (SELECT feature, CAST(sum(n_pos) AS BIGINT) AS tp,
        |  CAST(sum(n_neg) AS BIGINT) AS tn FROM bins GROUP BY feature),
        |sc AS (SELECT b.feature, b.value, n_pos, n_neg,
        |  round((n_pos + 0.5e0) / (tp + 1.0e0), 6) AS p_share,
        |  round((n_neg + 0.5e0) / (tn + 1.0e0), 6) AS q_share,
        |  round(ln((n_pos + 0.5e0) / (tp + 1.0e0)) -
        |    ln((n_neg + 0.5e0) / (tn + 1.0e0)), 6) AS woe
        |  FROM bins b JOIN tots USING (feature)),
        |tm AS (SELECT feature, value,
        |  round((p_share - q_share) * woe, 6) AS term FROM sc),
        |iv AS (SELECT feature, CAST(FLOOR((list_reduce(list_prepend(0.0e0,
        |    list(term ORDER BY value)),
        |    (a, x) -> CAST(FLOOR((a + x) * 1.0E6 + 0.5) AS DOUBLE)
        |      / 1.0E6)) * 1.0E4 + 0.5) AS DOUBLE) / 1.0E4
        |  AS iv FROM tm GROUP BY feature)
        |SELECT s.feature, s.value, s.n_pos, s.n_neg, s.p_share,
        |  s.q_share, s.woe, i.iv
        |FROM sc s JOIN iv i USING (feature)
        |ORDER BY s.feature, s.value""".stripMargin),

    // Incremental view maintenance fold: revenue-by-priority view
    // built on 1997-and-earlier orders, the later years folded in as
    // an on-disk delta, readers re-merge at key grain — must equal
    // the full recompute (the disk is invisible to the oracle, the
    // q273 contract). Retraction round-trips are IvmSpec's.
    "q287_ivm_fold" -> Query((s, dir) => {
      val o = T(s, dir, "orders")
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q287_ivm").getAbsolutePath
      val early = o.filter(year(col("o_orderdate")) <= 1997)
      val late = o.filter(year(col("o_orderdate")) > 1997)
      graft.operators.Ivm.writeView(graft.operators.Ivm.buildAggView(
        early, Seq("o_orderpriority"), "o_totalprice"), path)
      graft.operators.Ivm.appendDelta(graft.operators.Ivm.buildAggView(
        late, Seq("o_orderpriority"), "o_totalprice"), path)
      graft.operators.Ivm.readView(s, path, Seq("o_orderpriority"))
        .orderBy(col("o_orderpriority"))
    },
      // the view fold must be indistinguishable from the recompute:
      // inner sums snap at the cent grid per build side, outer merge
      // re-snaps — replayed with the same two-level engine-exact snap
      // (the build multiplies by the +1.0 sign before snapping, so the
      // oracle does too)
      {
      val cents = Grid.snapSql("sum(CAST(o_totalprice AS DOUBLE)) " +
        "* 1.0", 2)
      s"""WITH v AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    $cents AS sum_v FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) <= 1997
        |  GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    $cents AS sum_v FROM orders
        |  WHERE year(CAST(o_orderdate AS DATE)) > 1997
        |  GROUP BY o_orderpriority)
        |SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS n,
        |  ${Grid.snapSql("sum(sum_v)", 2)} AS sum_v
        |FROM v GROUP BY o_orderpriority
        |HAVING sum(n) <> 0
        |ORDER BY o_orderpriority""".stripMargin
    }),

    // Two-proportion z on user conversion (ever purchased) between
    // the even/odd arms — the pooled-SE conversion test beside the
    // Welch/MWU metric tests. One arm-grain aggregation.
    "q286_proportion_test" -> Query((s, dir) => {
      val users = events(s, dir).groupBy(col("user_id"))
        .agg((max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) === 1L).as("s"))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
      graft.operators.Abtest.proportionTest(users, "arm", "s")
    },
      """WITH u AS (SELECT user_id, max(CASE WHEN event_type =
        |    'purchase' THEN 1 ELSE 0 END) = 1 AS s,
        |  user_id % 2 AS arm FROM events GROUP BY user_id),
        |ar AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM u GROUP BY arm),
        |ax AS (SELECT *, k / CAST(n AS DOUBLE) AS p,
        |  row_number() OVER (ORDER BY arm) AS rk FROM ar)
        |SELECT a.arm AS arm_a, b.arm AS arm_b, a.n AS n_a, b.n AS n_b,
        |  a.k AS k_a, b.k AS k_b,
        |  round(a.p, 6) AS p_a, round(b.p, 6) AS p_b,
        |  round(a.p - b.p, 6) AS diff,
        |  CASE WHEN (a.k + b.k) / CAST(a.n + b.n AS DOUBLE) > 0
        |    AND (a.k + b.k) / CAST(a.n + b.n AS DOUBLE) < 1 THEN
        |    round((a.p - b.p) / sqrt(
        |      ((a.k + b.k) / CAST(a.n + b.n AS DOUBLE)) *
        |      (1.0e0 - (a.k + b.k) / CAST(a.n + b.n AS DOUBLE)) *
        |      (1.0e0 / a.n + 1.0e0 / b.n)), 4) END AS z
        |FROM ax a, ax b WHERE a.rk = 1 AND b.rk = 2""".stripMargin),

    // Cohort LTV curves: users cohort by first-signup week, all later
    // spend books to the cohort's age axis, cumulative revenue per
    // user — q155's money sibling. Cent-grid weekly sums BEFORE the
    // keyed cumulation.
    "q285_cohort_ltv" -> Query((s, dir) =>
      graft.operators.Funnel.cohortLtv(events(s, dir), "user_id",
          "ts", "value", cohortPred = col("event_type") === "signup")
        .orderBy(col("cohort_week"), col("week_offset")),
      """WITH f AS (SELECT user_id,
        |    date_trunc('week', min(ts)) AS cohort_week FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |sz AS (SELECT cohort_week, count(*) AS cohort_size FROM f
        |  GROUP BY cohort_week),
        |wk AS (SELECT f.cohort_week,
        |    datediff('day', f.cohort_week,
        |      date_trunc('week', e.ts)) // 7 AS week_offset,
        |    round(sum(e.value), 2) AS week_revenue
        |  FROM events e JOIN f USING (user_id)
        |  WHERE CAST(e.ts AS DATE) >= f.cohort_week
        |  GROUP BY 1, 2),
        |cm AS (SELECT *, CAST(sum(CAST(floor(week_revenue * 100.0
        |      + 0.5) AS BIGINT)) OVER (
        |    PARTITION BY cohort_week ORDER BY week_offset
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
        |    AS cum_revenue FROM wk)
        |SELECT cm.cohort_week,
        |  CAST(cm.week_offset AS INTEGER) AS week_offset,
        |  cm.week_revenue, cm.cum_revenue, sz.cohort_size,
        |  round(cm.cum_revenue / sz.cohort_size, 4) AS ltv_per_user
        |FROM cm JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // Trigram-index substring search (the pg_trgm device): a
    // '%hash join%' scan becomes a posting-list intersection over
    // the pattern's 6 trigrams + an exact contains verify on the
    // survivors; the profile row audits candidate precision.
    "q284_trigram_search" -> Query((s, dir) =>
      graft.operators.TrigramSearch.searchProfile(
        T(s, dir, "documents"), "doc_id", "text", "hash join"),
      """WITH cn AS (SELECT doc_id, regexp_replace(lower(text),
        |  '[^a-z0-9]', '', 'g') AS cc FROM documents),
        |ix AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id,
        |  unnest(list_transform(range(1, length(cc) - 1),
        |    i -> substr(cc, CAST(i AS INT), 3))) AS g
        |  FROM cn WHERE length(cc) >= 3)),
        |qg AS (SELECT unnest(['has','ash','shj','hjo','joi','oin'])
        |  AS g),
        |cand AS (SELECT doc_id, count(*) AS m FROM ix
        |  JOIN qg USING (g) GROUP BY doc_id HAVING count(*) = 6),
        |ver AS (SELECT cand.doc_id FROM cand JOIN cn USING (doc_id)
        |  WHERE contains(cc, 'hashjoin'))
        |SELECT 'hash join' AS pattern,
        |  CAST(6 AS INTEGER) AS n_query_grams,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ver) AS n_verified,
        |  round((SELECT CAST(count(*) AS DOUBLE) FROM ver) /
        |    greatest((SELECT count(*) FROM cand), 1), 6)
        |    AS index_precision""".stripMargin),

    // Population Stability Index of spend between the two time
    // halves: fixed cuts [0, 50) in 10 bins + under/overflow,
    // smoothed shares, PSI folded over the sorted bin list — the
    // monitored-model drift number beside the KS test's
    // max-gap view.
    "q283_psi_drift" -> Query((s, dir) => {
      val ev = events(s, dir)
      val mm = ev.agg(min(unix_micros(col("ts"))).as("__lo"),
        max(unix_micros(col("ts"))).as("__hi"))
      val tagged = ev.crossJoin(broadcast(mm))
        .withColumn("pre",
          unix_micros(col("ts")) < expr("(__lo + __hi) div 2"))
      graft.operators.Divergence.psi(tagged, "value", col("pre"),
        lo = 0.0, hi = 50.0, nBins = 10)
    },
      """WITH mm AS (SELECT min(epoch_us(ts)) AS lo,
        |  max(epoch_us(ts)) AS hi FROM events),
        |t AS (SELECT value AS v,
        |  epoch_us(ts) < (lo + hi) // 2 AS pre FROM events, mm
        |  WHERE value IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0.0e0 THEN -1
        |    WHEN v >= 50.0e0 THEN 10
        |    ELSE CAST(floor((v - 0.0e0) / 50.0e0 * 10) AS INT) END
        |    AS bin,
        |  CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ref,
        |  CAST(sum(CASE WHEN pre THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_cur
        |  FROM t GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |  CAST(sum(n_cur) AS BIGINT) AS tc FROM b),
        |sc AS (SELECT bin, n_ref, n_cur,
        |  round((n_ref + 0.5e0) / (tr + 6.0e0), 6) AS p_ref,
        |  round((n_cur + 0.5e0) / (tc + 6.0e0), 6) AS p_cur
        |  FROM b, tt),
        |tm AS (SELECT *, round((p_ref - p_cur) * ln(p_ref / p_cur), 6)
        |  AS term FROM sc),
        |tot AS (SELECT CAST(FLOOR((list_reduce(list_prepend(0.0e0,
        |    list(term ORDER BY bin)),
        |    (a, x) -> CAST(FLOOR((a + x) * 1.0E6 + 0.5) AS DOUBLE)
        |      / 1.0E6)) * 1.0E4 + 0.5) AS DOUBLE) / 1.0E4
        |  AS psi FROM tm)
        |SELECT bin, n_ref, n_cur, p_ref, p_cur, term, psi
        |FROM tm, tot ORDER BY bin""".stripMargin),

    // Session-level conversion: within each 2-day session, did a
    // purchase land at-or-after a view? Rolled up by session length —
    // the "does engagement depth convert" curve, chaining q265's
    // sessionizer.
    "q282_session_conversion" -> Query((s, dir) =>
      graft.operators.Sessionize.sessionConversion(events(s, dir),
          "user_id", "ts", "event_id", "event_type",
          triggerType = "view", convType = "purchase",
          gapMinutes = 2880)
        .orderBy(col("n_events")),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |  event_type FROM events WHERE ts IS NOT NULL),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
        |  ORDER BY us, event_id) AS prev FROM e),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR us - prev >
        |  172800000000 THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |  ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |g AS (SELECT user_id, sid, count(*) AS ne,
        |  min(CASE WHEN event_type = 'view' THEN us END) AS trig,
        |  max(CASE WHEN event_type = 'purchase' THEN us END) AS conv
        |  FROM s GROUP BY 1, 2),
        |c AS (SELECT ne, trig IS NOT NULL AND conv IS NOT NULL
        |  AND conv >= trig AS converted FROM g)
        |SELECT CAST(ne AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_converted,
        |  round(CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS conversion_rate
        |FROM c GROUP BY ne ORDER BY n_events""".stripMargin),

    // Monroe "Fightin' Words": per-token Dirichlet-prior log-odds z
    // between English and the rest of the corpus — the corpus-
    // comparison statistic that neither drowns in rare-word noise
    // nor saturates on common words. Two top-k heaps, never a
    // vocabulary-wide window.
    "q281_monroe_logodds" -> Query((s, dir) =>
      graft.operators.Divergence.monroeLogOdds(
        T(s, dir, "documents"), "text", col("lang") === "en",
        sideA = "en", sideB = "rest", alpha0 = 500.0, topK = 20),
      s"""WITH tka AS (SELECT lang = 'en' AS a, unnest($ToksSql)
         |    AS token FROM documents),
         |ct AS (SELECT token,
         |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ya,
         |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS yb
         |  FROM tka GROUP BY token),
         |tt AS (SELECT CAST(sum(ya) AS BIGINT) AS na,
         |  CAST(sum(yb) AS BIGINT) AS nb FROM ct),
         |aw AS (SELECT token, ya, yb, na, nb,
         |  500.0e0 * (ya + yb) / (na + nb) AS aw FROM ct, tt),
         |sc AS (SELECT token, ya, yb,
         |  round(ln(ya + aw) - ln(na + 500.0e0 - ya - aw) -
         |    ln(yb + aw) + ln(nb + 500.0e0 - yb - aw), 6) AS delta,
         |  round(1.0e0 / (ya + aw) + 1.0e0 / (yb + aw), 6) AS s2
         |  FROM aw),
         |zt AS (SELECT token, ya, yb,
         |  round(delta / sqrt(s2), 4) AS z FROM sc),
         |ta AS (SELECT 'en' AS side, token, ya, yb, z FROM zt
         |  ORDER BY z DESC, token LIMIT 20),
         |tb AS (SELECT 'rest' AS side, token, ya, yb, z FROM zt
         |  ORDER BY z ASC, token LIMIT 20)
         |SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM tb)
         |ORDER BY side, z, token""".stripMargin),

    // Capstone #10: the q279 audit under BOTH split strategies —
    // hashing the doc id scatters dup clusters across the boundary;
    // hashing the CLUSTER CANONICAL (dedupCorpus components, same
    // 0.9 verify) provably zeroes cross-split leakage because every
    // verified pair lives inside one cluster. The fix and its proof
    // in one result.
    "q280_cluster_split_capstone" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val byDoc = graft.operators.Dedup.crossSplitLeakage(docs,
          "doc_id", "text",
          inTest = graft.operators.Sampling.hashBucket(col("doc_id"))
            >= 8000, threshold = 0.9)
        .withColumn("strategy", lit("by_doc"))
      val labeled = graft.operators.Dedup.dedupCorpus(docs, "doc_id",
        "text", threshold = 0.9)
      val byCluster = graft.operators.Dedup.crossSplitLeakage(labeled,
          "doc_id", "text",
          inTest = graft.operators.Sampling
            .hashBucket(col("component")) >= 8000, threshold = 0.9)
        .withColumn("strategy", lit("by_cluster"))
      byDoc.union(byCluster)
        .select(col("strategy"), col("n_dup_pairs"),
          col("n_cross_pairs"), col("n_test"), col("n_contaminated"),
          col("contamination_rate"))
        .orderBy(col("strategy"))
    },
      HashOracles.q280ClusterSplitCapstone),

    // Cross-split duplicate leakage: the eval-hygiene audit a hash
    // split does NOT give — near-dup clusters scatter across the
    // 80/20 split, so test docs silently have train-side twins.
    // Verified band pairs classified by the splitmix test flag;
    // counts cross pairs and distinct contaminated test docs.
    "q279_split_leakage" -> Query((s, dir) =>
      graft.operators.Dedup.crossSplitLeakage(
        T(s, dir, "documents"), "doc_id", "text",
        inTest = graft.operators.Sampling.hashBucket(col("doc_id"))
          >= 8000, threshold = 0.9),
      HashOracles.q279SplitLeakage),

    // KWIC concordance: every "join" occurrence with 3 tokens of
    // context either side, stitched from the once-tokenized array by
    // slice arithmetic — map-only until the (doc, pos) top-k heap.
    "q278_kwic" -> Query((s, dir) =>
      graft.operators.Keywords.kwic(T(s, dir, "documents"), "doc_id",
        "text", term = "join", context = 3, topK = 100),
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |occ AS (SELECT doc_id, j, t FROM
         |  (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j
         |   FROM tok)
         |  WHERE t[CAST(j AS INT)] = 'join')
         |SELECT doc_id, CAST(j - 1 AS INTEGER) AS pos,
         |  coalesce(array_to_string(
         |    t[CAST(greatest(j - 3, 1) AS INT) : CAST(j - 1 AS INT)],
         |    ' '), '') AS before,
         |  'join' AS term,
         |  coalesce(array_to_string(
         |    t[CAST(j + 1 AS INT) : CAST(j + 3 AS INT)], ' '), '')
         |    AS after
         |FROM occ ORDER BY doc_id, pos LIMIT 100""".stripMargin),

    // Exact two-sample Kolmogorov–Smirnov: did the WHOLE spend
    // distribution shift between the first and second half of the
    // time range? One aggregation to the distinct-value (2-dp grid)
    // table, cumulative CDF windows at value grain, smallest-value
    // argmax tie, the 1.358·√(1/n_a+1/n_b) line.
    "q277_ks_test" -> Query((s, dir) => {
      val ev = events(s, dir)
      val mm = ev.agg(min(unix_micros(col("ts"))).as("__lo"),
        max(unix_micros(col("ts"))).as("__hi"))
      val tagged = ev.crossJoin(broadcast(mm))
        .withColumn("pre",
          unix_micros(col("ts")) < expr("(__lo + __hi) div 2"))
      graft.operators.Abtest.ksTest(tagged, col("pre"), "value")
    },
      """WITH mm AS (SELECT min(epoch_us(ts)) AS lo,
        |  max(epoch_us(ts)) AS hi FROM events),
        |t AS (SELECT value AS v, epoch_us(ts) < (lo + hi) // 2 AS a
        |  FROM events, mm WHERE value IS NOT NULL),
        |bv AS (SELECT v,
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM t GROUP BY v),
        |tt AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM bv),
        |st AS (SELECT v, na, nb,
        |  round(abs(sum(ca) OVER w / CAST(na AS DOUBLE) -
        |    sum(cb) OVER w / CAST(nb AS DOUBLE)), 6) AS d
        |  FROM bv, tt
        |  WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |pick AS (SELECT *, row_number() OVER (ORDER BY d DESC, v)
        |  AS rn FROM st)
        |SELECT na AS n_a, nb AS n_b, d, v AS v_at_d,
        |  round(1.358e0 * sqrt(1.0e0 / na + 1.0e0 / nb), 6)
        |    AS d_crit_05,
        |  d > 1.358e0 * sqrt(1.0e0 / na + 1.0e0 / nb) AS reject_05
        |FROM pick WHERE rn = 1""".stripMargin),

    // Referential-integrity audit over three FK edges of the star
    // schema: key-grain full outer join classifies every key into
    // null-FK / orphan / unreferenced mass in one pass per edge —
    // the cross-table expectation q244's row-local rules can't say.
    "q276_fk_audit" -> Query((s, dir) => {
      val E = graft.operators.Expectations
      E.referentialIntegrity("lineitem.l_orderkey->orders",
          T(s, dir, "lineitem"), "l_orderkey",
          T(s, dir, "orders"), "o_orderkey")
        .union(E.referentialIntegrity("orders.o_custkey->customer",
          T(s, dir, "orders"), "o_custkey",
          T(s, dir, "customer"), "c_custkey"))
        .union(E.referentialIntegrity("customer.c_nationkey->nation",
          T(s, dir, "customer"), "c_nationkey",
          T(s, dir, "nation"), "n_nationkey"))
        .orderBy(col("relation"))
    },
      HashOracles.q276FkAudit(Seq(
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      ("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey")))),

    // V-optimal histogram of the char-length axis: ONE corpus pass to
    // <= 24 equi-width cells (exact long sums), then the Jagadish DP
    // over that bounded table places 6 bucket boundaries minimizing
    // total SSE — the histogram a cost-based optimizer stores. DP
    // values on the 1e-6 grid, smallest-split ties; the oracle
    // unrolls one MATERIALIZED layer per bucket + the backtrace.
    "q275_voptimal_histogram" -> Query((s, dir) =>
      graft.operators.Analyze.vOptimalHistogram(
        T(s, dir, "documents"), "n_chars", inputCells = 24,
        buckets = 6),
      HashOracles.q275VOptimalHistogram(24, 6)),

    // Simplified Shapley channel attribution: users reduce to their
    // touched-channel SET + converted flag, v(S) = per-set conversion
    // rate (a ≤ 2^|C| driver fact — the bounded-alphabet contract),
    // φ from the exact coalition weights, terms folded in sorted
    // subset order. The game-theoretic completion of the last-touch/
    // position/Markov attribution family.
    "q274_shapley_attribution" -> Query((s, dir) =>
      graft.operators.Attribution.shapleyAttribution(events(s, dir),
        "user_id", "event_type", convType = "purchase"),
      HashOracles.q274ShapleyAttribution(
      Seq("click", "error", "signup", "view"), "purchase")),

    // Winnow fingerprint index fold: build on the first corpus slice,
    // APPEND the second (modulus from the index's own sidecar), then
    // match a probe slice against the folded index — must equal the
    // in-memory computation over the union (the oracle sees no disk;
    // the q109/q130 index-invisibility precedent).
    "q273_winnow_index_fold" -> Query((s, dir) => {
      val docs = T(s, dir, "documents")
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q273_widx").getAbsolutePath
      val W = graft.operators.Winnow
      W.writeFingerprintIndex(
        W.fingerprints(docs.filter(col("doc_id") < 300), "doc_id",
          "text", k = 5, w = 4), "doc_id", path)
      W.appendToFingerprintIndex(
        W.fingerprints(docs.filter(col("doc_id") >= 300 &&
          col("doc_id") < 450), "doc_id", "text", k = 5, w = 4),
        "doc_id", path)
      W.matchAgainstIndex(s, path,
          docs.filter(col("doc_id") >= 450), "doc_id", "text",
          k = 5, w = 4, minShared = 30, maxDf = 300)
        .orderBy(col("probe_id"), col("index_id"))
    },
      HashOracles.q273WinnowIndexMatch(
      5, 4, minShared = 30, maxDf = 300,
      idxFilter = " WHERE doc_id < 450",
      probeFilter = " WHERE doc_id >= 450")),

    // Leave-one-out target encoding of order priority against the
    // high-value label: each row's encoding excludes its own target
    // (the leak-free GBM feature trick), prior-smoothed at m = 20.
    // Binary target -> exactly two te values per category, so the
    // gate compacts to (priority, y, n, te) without losing a cell.
    "q272_target_encoding" -> Query((s, dir) => {
      val base = T(s, dir, "orders")
        .select(col("o_orderpriority"),
          (col("o_totalprice") >= 150000).cast("double").as("y"))
      graft.operators.Woe.targetEncodeLoo(base, "o_orderpriority",
          "y", m = 20.0)
        .groupBy(col("o_orderpriority"), col("y"))
        .agg(count(lit(1)).as("n"), first(col("te")).as("te"))
        .orderBy(col("o_orderpriority"), col("y"))
    },
      """WITH base AS (SELECT o_orderpriority,
        |  CAST(o_totalprice >= 150000 AS DOUBLE) AS y FROM orders),
        |st AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_g,
        |  sum(y) AS sum_y FROM base GROUP BY o_orderpriority),
        |g AS (SELECT round(sum(y) / count(*), 6) AS mu FROM base),
        |te AS (SELECT b.o_orderpriority, b.y,
        |  round((s.sum_y - b.y + 20.0e0 * g.mu) /
        |    (CAST(s.n_g AS DOUBLE) - 1 + 20.0e0), 6) AS te
        |  FROM base b JOIN st s USING (o_orderpriority), g)
        |SELECT o_orderpriority, y, CAST(count(*) AS BIGINT) AS n,
        |  any_value(te) AS te
        |FROM te GROUP BY o_orderpriority, y
        |ORDER BY o_orderpriority, y""".stripMargin),

    // NB k-fold cross-validation by COUNT SUBTRACTION: fold f's
    // leave-fold-out model = global count table minus fold f's
    // counts, so all k models materialize from ONE tokenize pass and
    // every doc scores against its own fold's complement via a
    // (token, fold) equi-join — the k-retrain CV in two passes.
    "q271_nb_crossval" -> Query((s, dir) =>
      graft.operators.QualityClassifier.crossValidateNb(
        T(s, dir, "documents").withColumn("y", col("lang") === "en"),
        "doc_id", "text", "y", kFolds = 5),
      HashOracles.q271NbCrossVal(5)),

    // Bounded-hop BFS from a seed set on the customer↔part bipartite
    // graph: per-round frontier = edge equi-join minus the settled
    // set, lineage truncated per round, early exit on an empty
    // frontier. Per-distance node counts + the sorted node-list md5.
    "q270_bfs_distance" -> Query((s, dir) => {
      val e0 = T(s, dir, "orders").join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("s"),
          concat(lit("p"), col("l_partkey")).as("d")).distinct()
      val e = e0.union(e0.select(col("d").as("s"), col("s").as("d")))
      val seeds = T(s, dir, "part")
        .filter(col("p_brand") === "Brand#11")
        .select(concat(lit("p"), col("p_partkey")).as("node"))
      graft.operators.Graph.bfsDistances(e, "s", "d", seeds, "node",
          maxHops = 3)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"),
          md5(concat_ws(",", sort_array(collect_list(col("node")))))
            .as("nodes_md5"))
        .orderBy(col("dist"))
    },
      HashOracles.q270BfsDistances(3, "Brand#11")),

    // Isotonic (PAV) calibration by the relational MINIMAX closed
    // form: the monotone step function nearest the per-bin positive
    // rates — cumsum self-join builds interval averages, two grouped
    // extrema take max_j min_k. Only the binning touches the corpus;
    // the fit runs on the <= bins-row table. Score = capped char
    // ratio, label = char cut XOR a 20% id flip (a noisy increasing
    // relationship worth calibrating).
    "q269_isotonic_calibration" -> Query((s, dir) => {
      val scored = T(s, dir, "documents")
        .filter(col("n_chars").isNotNull)
        .withColumn("p", least(col("n_chars").cast("double") / 600.0,
          lit(0.999)))
        .withColumn("y",
          (col("n_chars") > 300) =!= (col("doc_id") % 5 === 0))
      graft.operators.QualityClassifier.isotonicCalibrate(
        scored, "p", "y", bins = 10)
    },
      """WITH sc AS (SELECT
        |  least(CAST(n_chars AS DOUBLE) / 600.0e0, 0.999e0) AS p,
        |  (n_chars > 300) <> (doc_id % 5 = 0) AS y
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM sc GROUP BY 1),
        |c AS (SELECT *,
        |  sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cw,
        |  sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cs
        |  FROM b),
        |iv AS (SELECT j.bin AS j, k.bin AS k,
        |  round(CAST(k.cs - (j.cs - j.n_pos) AS DOUBLE) /
        |    (k.cw - (j.cw - j.n)), 6) AS iavg
        |  FROM c j JOIN c k ON j.bin <= k.bin),
        |mn AS (SELECT i.bin AS i, i.n, i.n_pos, iv.j,
        |  min(iv.iavg) AS m
        |  FROM b i JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin
        |  GROUP BY 1, 2, 3, 4)
        |SELECT i AS bin, n, n_pos,
        |  round(CAST(n_pos AS DOUBLE) / n, 6) AS raw_rate,
        |  round(max(m), 6) AS iso_rate
        |FROM mn GROUP BY i, n, n_pos ORDER BY bin""".stripMargin),

    // Contrastive triplet mining (FaceNet semi-hard rule) over the
    // embedding corpus: per anchor the hardest same-label positive
    // and the most-confusable qualifying negative, candidates ONLY
    // from the IVF list equi-join — the training-pair table a
    // contrastive fine-tune consumes. Brute-force-verified in
    // SimilaritySpec.
    "q268_triplet_mining" -> Query((s, dir) =>
      Similarity.mineTriplets(T(s, dir, "embeddings"), "vec_id",
          "embedding", "label", nLists = 8)
        .orderBy(col("anchor")),
      HashOracles.q268TripletMining),

    // IPW average treatment effect by subclassification: urgent/high
    // priority plays the treatment, market segment the confounder
    // stratum; propensity = per-stratum treated share (clipped),
    // outcome mass reweighted 1/e — Horvitz–Thompson and Hájek forms
    // beside the naive difference they correct. Weights factor OUT of
    // the row sums; the overall estimates fold over the bounded
    // sorted stratum list (the q260 device).
    "q267_ipw_ate" -> Query((s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val base = o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_mktsegment"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("treat"),
          col("o_totalprice").as("y"))
      graft.operators.Abtest.ipwAte(base, Seq("c_mktsegment"),
          "treat", "y")
        .orderBy(col("c_mktsegment"))
    },
      """WITH base AS (SELECT c_mktsegment AS seg,
        |  o_orderpriority IN ('1-URGENT', '2-HIGH') AS t,
        |  o_totalprice AS y FROM orders
        |  JOIN customer ON o_custkey = c_custkey),
        |s AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
        |  round(sum(CASE WHEN t THEN y ELSE 0.0e0 END), 2) AS sum_y_t,
        |  round(sum(CASE WHEN t THEN 0.0e0 ELSE y END), 2) AS sum_y_c
        |  FROM base GROUP BY seg),
        |w AS (SELECT *, round(least(greatest(
        |  CAST(n_treat AS DOUBLE) / n, 0.02e0), 0.98e0), 6) AS e
        |  FROM s),
        |w2 AS (SELECT *, round(sum_y_t / e, 6) AS wyt,
        |  round(sum_y_c / (1.0e0 - e), 6) AS wyc,
        |  round(CAST(n_treat AS DOUBLE) / e, 6) AS wnt,
        |  round(CAST(n - n_treat AS DOUBLE) / (1.0e0 - e), 6) AS wnc
        |  FROM w),
        |o AS (SELECT CAST(sum(n) AS BIGINT) AS n_units,
        |  CAST(sum(n_treat) AS BIGINT) AS n_treated,
        |  round(sum(sum_y_t), 2) AS syt, round(sum(sum_y_c), 2) AS syc,
        |  CAST(FLOOR((list_reduce(list_prepend(0.0e0,
        |      list(wyt ORDER BY seg)),
        |    (a, x) -> CAST(FLOOR((a + x) * 1.0E6 + 0.5) AS DOUBLE)
        |      / 1.0E6)) * 1.0E6 + 0.5) AS DOUBLE) / 1.0E6 AS swyt,
        |  CAST(FLOOR((list_reduce(list_prepend(0.0e0,
        |      list(wyc ORDER BY seg)),
        |    (a, x) -> CAST(FLOOR((a + x) * 1.0E6 + 0.5) AS DOUBLE)
        |      / 1.0E6)) * 1.0E6 + 0.5) AS DOUBLE) / 1.0E6 AS swyc,
        |  CAST(FLOOR((list_reduce(list_prepend(0.0e0,
        |      list(wnt ORDER BY seg)),
        |    (a, x) -> CAST(FLOOR((a + x) * 1.0E6 + 0.5) AS DOUBLE)
        |      / 1.0E6)) * 1.0E6 + 0.5) AS DOUBLE) / 1.0E6 AS swnt,
        |  CAST(FLOOR((list_reduce(list_prepend(0.0e0,
        |      list(wnc ORDER BY seg)),
        |    (a, x) -> CAST(FLOOR((a + x) * 1.0E6 + 0.5) AS DOUBLE)
        |      / 1.0E6)) * 1.0E6 + 0.5) AS DOUBLE) / 1.0E6 AS swnc
        |  FROM w2),
        |o2 AS (SELECT n_units, n_treated,
        |  CASE WHEN n_treated > 0 AND n_units > n_treated THEN
        |    round(syt / CAST(n_treated AS DOUBLE) -
        |      syc / CAST(n_units - n_treated AS DOUBLE), 4) END
        |    AS naive_diff,
        |  round((swyt - swyc) / CAST(n_units AS DOUBLE), 4) AS ate_ipw,
        |  CASE WHEN swnt > 0 AND swnc > 0 THEN
        |    round(swyt / swnt - swyc / swnc, 4) END AS ate_hajek
        |  FROM o)
        |SELECT w2.seg AS c_mktsegment, w2.n, w2.n_treat, w2.e,
        |  w2.sum_y_t, w2.sum_y_c, o2.n_units, o2.n_treated,
        |  o2.naive_diff, o2.ate_ipw, o2.ate_hajek
        |FROM w2, o2 ORDER BY c_mktsegment""".stripMargin),

    // ANALYZE: the per-column catalog stats row (nulls, NDV, typed
    // min/max, mean string length) in ONE aggregation pass — the
    // multi-distinct plans via Expand, never a scan per column; the
    // approxNdv flag swaps exact distincts for HLL registers at the
    // 100 TB grain (spec-bounded; the gate pins the exact form).
    "q266_analyze_stats" -> Query((s, dir) =>
      graft.operators.Analyze.tableStats(T(s, dir, "lineitem")),
      HashOracles.q266AnalyzeStats("lineitem", Seq(
      "l_orderkey" -> "num", "l_partkey" -> "num", "l_suppkey" -> "num",
      "l_linenumber" -> "num", "l_quantity" -> "num",
      "l_extendedprice" -> "num", "l_discount" -> "num",
      "l_tax" -> "num", "l_returnflag" -> "str",
      "l_linestatus" -> "str", "l_shipdate" -> "ts"))),

    // Inactivity-gap sessionization (the 30-minute rule): ONE keyed
    // window pass assigns per-user session ordinals, session stats
    // are a second partial-agg, and the gated readout is the
    // engagement curve — per session LENGTH: session count, exact
    // mean duration (integer micros), value mass. Bounded by the
    // longest session. Gap = 2 days (this corpus's event cadence;
    // the 30-minute web rule is the spec's hand fixture).
    "q265_sessionization" -> Query((s, dir) =>
      graft.operators.Sessionize.sessionLengthProfile(events(s, dir),
          "user_id", "ts", "event_id", "event_type", "value",
          gapMinutes = 2880)
        .orderBy(col("n_events")),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |  event_type, value FROM events WHERE ts IS NOT NULL),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
        |  ORDER BY us, event_id) AS prev FROM e),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR us - prev >
        |  172800000000 THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |  ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |g AS (SELECT user_id, sid, min(us) AS s0, max(us) AS s1,
        |  count(*) AS ne, round(sum(value), 2) AS sv
        |  FROM s GROUP BY 1, 2)
        |SELECT CAST(ne AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  round(sum(sv), 2) AS total_value,
        |  round(CAST(sum(s1 - s0) AS DOUBLE) / count(*) / 1000000.0, 4)
        |    AS mean_duration_s
        |FROM g GROUP BY ne ORDER BY n_events""".stripMargin),

    // Shot-boundary detection. CONTRACT: this gated query runs on the
    // DOCUMENTED synthetic frame source (byte-chunk pseudo-frames +
    // codegen energy fold — deterministic, engine-replayable, zero
    // codec deps); real decode is the bound ffmpeg adapter
    // (operators.Video.shotBoundaries + FfmpegDecoder, self-skipping
    // VideoAdapterSpec — the C3/C4 pattern), which swaps ONLY the
    // per-frame energy source and keeps this exact keyed-window
    // delta + threshold + scene accounting downstream.
    "q264_scene_cuts" -> Query((s, dir) => {
      val media = Multimodal.asMedia(
        T(s, dir, "documents").filter(col("doc_id") < 1000),
        "doc_id", "text")
      Multimodal.sceneSummary(media, frameBytes = 64, stride = 4,
          threshold = 200)
        .orderBy(col("media_id"))
    },
      """WITH m AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE doc_id < 1000),
        |f AS (SELECT doc_id, text, unnest(range(0,
        |  greatest(CAST(floor(n / 64) AS BIGINT) - 1, 0) + 1, 4))
        |  AS fi FROM m),
        |fr AS (SELECT doc_id, fi,
        |  substring(text, CAST(fi * 64 + 1 AS INT), 64) AS frame FROM f),
        |e AS (SELECT doc_id, fi, list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(frame) + 1), i ->
        |      CAST(unicode(substring(frame, CAST(i AS INT), 1))
        |        AS BIGINT))), (a, x) -> a + x) AS energy FROM fr),
        |d AS (SELECT doc_id, fi, energy, energy - lag(energy)
        |  OVER (PARTITION BY doc_id ORDER BY fi) AS delta FROM e),
        |c AS (SELECT doc_id, fi,
        |  coalesce(abs(delta) >= 200, false) AS is_cut FROM d)
        |SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cuts,
        |  CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) + 1 AS BIGINT)
        |    AS n_scenes,
        |  md5(coalesce(array_to_string(list_sort(
        |    list(fi) FILTER (WHERE is_cut)), ','), '')) AS cuts_md5
        |FROM c GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // Winnowing fingerprints (the MOSS device): per-doc selected-hash
    // profile with the ordered pos:hash stream md5 — detection of any
    // shared substring >= w+k-1 chars is GUARANTEED, unlike MinHash.
    // Grams explode per doc; the window min is keyed by doc.
    "q262_winnow_profile" -> Query((s, dir) =>
      graft.operators.Winnow.profile(T(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4)
        .orderBy(col("doc_id")),
      HashOracles.q262Winnowing(5, 4)),

    // Winnow matching: doc pairs sharing >= 50 distinct selected
    // hashes — candidates ONLY from the hash equi-join (the MinHash
    // band discipline with a certainty guarantee); hashes in > 300
    // docs drop first (a boilerplate hash in f docs alone emits f²
    // pairs — the hot-shingle skew: uncapped this corpus yields
    // 1.49M pairs/13 s at sf0.1, capped 93 pairs/5 s).
    "q263_winnow_matches" -> Query((s, dir) =>
      graft.operators.Winnow.matchPairs(T(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4, minShared = 50, maxDf = 300)
        .orderBy(col("n_shared").desc, col("a_id"), col("b_id")),
      HashOracles.q263WinnowMatches(5, 4, 50, 300)),

    // Difference-in-differences on the events panel: even users play
    // the rolled-out segment, the time-range midpoint splits pre/post,
    // units are (user, period) spend sums on the cent grid — the
    // quasi-experimental estimator when there was no randomization
    // (control drift is the counterfactual). One partial-agg pass to
    // a single 12-number row.
    "q261_diff_in_diff" -> Query((s, dir) => {
      val ev = events(s, dir)
      val mm = ev.agg(min(unix_micros(col("ts"))).as("__lo"),
        max(unix_micros(col("ts"))).as("__hi"))
      val units = ev.crossJoin(broadcast(mm))
        .withColumn("post",
          unix_micros(col("ts")) >= expr("(__lo + __hi) div 2"))
        .groupBy(col("user_id"), col("post"))
        .agg(round(sum(col("value")), 2).as("y"))
        .withColumn("treat", pmod(col("user_id"), lit(2L)) === 0L)
      graft.operators.Abtest.diffInDiff(units, "treat", "post", "y")
    },
      """WITH mm AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts))
        |    AS hi FROM events),
        |u AS (SELECT user_id,
        |    epoch_us(ts) >= (lo + hi) // 2 AS post,
        |    round(sum(value), 2) AS y,
        |    user_id % 2 = 0 AS treat
        |  FROM events, mm GROUP BY user_id, post, treat),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_t0,
        |  CAST(sum(CASE WHEN treat AND post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_t1,
        |  CAST(sum(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_c0,
        |  CAST(sum(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_c1,
        |  sum(CASE WHEN treat AND NOT post THEN y ELSE 0.0e0 END) AS sy_t0,
        |  sum(CASE WHEN treat AND post THEN y ELSE 0.0e0 END) AS sy_t1,
        |  sum(CASE WHEN NOT treat AND NOT post THEN y ELSE 0.0e0 END)
        |    AS sy_c0,
        |  sum(CASE WHEN NOT treat AND post THEN y ELSE 0.0e0 END) AS sy_c1,
        |  sum(CASE WHEN treat AND NOT post THEN y * y ELSE 0.0e0 END)
        |    AS syy_t0,
        |  sum(CASE WHEN treat AND post THEN y * y ELSE 0.0e0 END)
        |    AS syy_t1,
        |  sum(CASE WHEN NOT treat AND NOT post THEN y * y ELSE 0.0e0 END)
        |    AS syy_c0,
        |  sum(CASE WHEN NOT treat AND post THEN y * y ELSE 0.0e0 END)
        |    AS syy_c1
        |  FROM u WHERE y IS NOT NULL),
        |x AS (SELECT *,
        |  sy_t0 / n_t0 AS m_t0, sy_t1 / n_t1 AS m_t1,
        |  sy_c0 / n_c0 AS m_c0, sy_c1 / n_c1 AS m_c1,
        |  (syy_t0 - sy_t0 * sy_t0 / n_t0) / (n_t0 - 1) AS v_t0,
        |  (syy_t1 - sy_t1 * sy_t1 / n_t1) / (n_t1 - 1) AS v_t1,
        |  (syy_c0 - sy_c0 * sy_c0 / n_c0) / (n_c0 - 1) AS v_c0,
        |  (syy_c1 - sy_c1 * sy_c1 / n_c1) / (n_c1 - 1) AS v_c1
        |  FROM c)
        |SELECT n_t0 AS n_treat_pre, n_t1 AS n_treat_post,
        |  n_c0 AS n_ctrl_pre, n_c1 AS n_ctrl_post,
        |  round(m_t0, 4) AS mean_treat_pre,
        |  round(m_t1, 4) AS mean_treat_post,
        |  round(m_c0, 4) AS mean_ctrl_pre,
        |  round(m_c1, 4) AS mean_ctrl_post,
        |  round((m_t1 - m_t0) - (m_c1 - m_c0), 4) AS did,
        |  round(sqrt(v_t0 / n_t0 + v_t1 / n_t1 + v_c0 / n_c0 +
        |    v_c1 / n_c1), 4) AS se,
        |  round(((m_t1 - m_t0) - (m_c1 - m_c0)) /
        |    sqrt(v_t0 / n_t0 + v_t1 / n_t1 + v_c0 / n_c0 +
        |      v_c1 / n_c1), 4) AS z
        |FROM x""".stripMargin),

    // Hierarchical rollup in ONE pass: per-(source, lang) doc counts
    // and char mass with source subtotals and the grand total —
    // Spark's Expand + partial aggregation (no per-level re-scan);
    // grouping_id disambiguates subtotal rows from real values.
    "q259_rollup_profile" -> Query((s, dir) =>
      T(s, dir, "documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          grouping_id().as("lvl"))
        .select(coalesce(col("source"), lit("(all)")).as("source"),
          coalesce(col("lang"), lit("(all)")).as("lang"),
          col("n_docs"), col("total_chars"), col("lvl"))
        .orderBy(col("lvl"), col("source"), col("lang")),
      """SELECT coalesce(source, '(all)') AS source,
        |  coalesce(lang, '(all)') AS lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(source, lang) AS BIGINT) AS lvl
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY lvl, source, lang""".stripMargin),

    // WOE/IV feature screening: which categorical order features
    // separate high-value orders (fixed 150k cut)? Features melt into
    // one narrow (feature, value) shuffle — never a pass per feature;
    // the IV folds each feature's sorted bin list on the 1e-6 grid
    // (bins are config-bounded), so the statistic replays exactly.
    "q260_woe_iv" -> Query((s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val base = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(col("o_orderpriority"), col("c_mktsegment"),
          col("n_name"), (col("o_totalprice") >= 150000).as("hi"))
      graft.operators.Woe.woeTable(base,
          Seq("o_orderpriority", "c_mktsegment", "n_name"), "hi")
        .orderBy(col("feature"), col("value"))
    },
      """WITH base AS (SELECT o_orderpriority, c_mktsegment, n_name,
        |  o_totalprice >= 150000 AS y FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |m AS (SELECT 'o_orderpriority' AS feature,
        |    o_orderpriority AS value, y FROM base
        |  UNION ALL SELECT 'c_mktsegment', c_mktsegment, y FROM base
        |  UNION ALL SELECT 'n_name', n_name, y FROM base),
        |bins AS (SELECT feature, value,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        |  FROM m GROUP BY feature, value),
        |tots AS (SELECT feature, CAST(sum(n_pos) AS BIGINT) AS tp,
        |  CAST(sum(n_neg) AS BIGINT) AS tn FROM bins GROUP BY feature),
        |sc AS (SELECT b.feature, b.value, n_pos, n_neg,
        |  round((n_pos + 0.5e0) / (tp + 1.0e0), 6) AS p_share,
        |  round((n_neg + 0.5e0) / (tn + 1.0e0), 6) AS q_share,
        |  round(ln((n_pos + 0.5e0) / (tp + 1.0e0)) -
        |    ln((n_neg + 0.5e0) / (tn + 1.0e0)), 6) AS woe
        |  FROM bins b JOIN tots USING (feature)),
        |tm AS (SELECT feature, value,
        |  round((p_share - q_share) * woe, 6) AS term FROM sc),
        |iv AS (SELECT feature, CAST(FLOOR((list_reduce(list_prepend(0.0e0,
        |    list(term ORDER BY value)),
        |    (a, x) -> CAST(FLOOR((a + x) * 1.0E6 + 0.5) AS DOUBLE)
        |      / 1.0E6)) * 1.0E4 + 0.5) AS DOUBLE) / 1.0E4
        |  AS iv FROM tm GROUP BY feature)
        |SELECT s.feature, s.value, s.n_pos, s.n_neg, s.p_share,
        |  s.q_share, s.woe, i.iv
        |FROM sc s JOIN iv i USING (feature)
        |ORDER BY s.feature, s.value""".stripMargin),

    // Z-order layout audit: orders clustered on the Morton interleave
    // of (custkey, order day) at 8 bits, 16 fixed z-cuts; the per-
    // bucket min/max profile IS the stats store a pruned scan
    // consults, and the two probe flags show BOTH dims prune (a
    // lexicographic sort prunes only its leading column). Layout is
    // deterministic end to end — integer scaling against a broadcast
    // stats row, literal shift/mask interleave, fixed-fraction cuts.
    "q258_zorder_layout" -> Query((s, dir) => {
      val orders = T(s, dir, "orders")
        .withColumn("day", datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1992-01-01"))))
      graft.operators.ZOrder.skippingProfile(orders,
          Seq("o_custkey", "day"), bits = 8, nBuckets = 16)
        .withColumn("hit_day_probe",
          col("min_day") <= 1440 && col("max_day") >= 1200)
        .withColumn("hit_ck_probe",
          col("min_o_custkey") <= 2500 && col("max_o_custkey") >= 1000)
        .orderBy(col("bucket"))
    },
      // the Morton interleave as arithmetic (bit b of dim i lands at
      // 2^(2b+i)) — integer-exact in both engines
      {
      val z = (0 until 8).flatMap { b =>
        Seq(s"((nx // ${1L << b}) % 2) * ${1L << (2 * b)}",
          s"((ny // ${1L << b}) % 2) * ${1L << (2 * b + 1)}")
      }.mkString(" + ")
      s"""WITH d AS (SELECT o_custkey AS ck,
         |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         |    AS day FROM orders),
         |st AS (SELECT min(ck) AS mnc, max(ck) AS mxc,
         |  min(day) AS mnd, max(day) AS mxd FROM d),
         |n AS (SELECT ck, day,
         |  ((ck - mnc) * 256) // (mxc - mnc + 1) AS nx,
         |  ((day - mnd) * 256) // (mxd - mnd + 1) AS ny FROM d, st),
         |z AS (SELECT ck, day, $z AS zv FROM n),
         |b AS (SELECT ck, day, (zv * 16) // 65536 AS bucket FROM z)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(min(ck) AS BIGINT) AS min_o_custkey,
         |  CAST(max(ck) AS BIGINT) AS max_o_custkey,
         |  CAST(min(day) AS BIGINT) AS min_day,
         |  CAST(max(day) AS BIGINT) AS max_day,
         |  (min(day) <= 1440 AND max(day) >= 1200) AS hit_day_probe,
         |  (min(ck) <= 2500 AND max(ck) >= 1000) AS hit_ck_probe
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    }),

    // Interval × interval OVERLAP join — the q142 granule device grown
    // to two exploded sides: error incident windows [ts, +10m) against
    // purchase attribution windows [ts-5m, +5m); each pair survives
    // only at its responsibility granule (the one containing the
    // overlap's start) — a pure filter, never a distinct over pairs.
    "q257_overlap_join" -> Query((s, dir) => {
      val ev = events(s, dir)
      val a = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          col("ts").as("i_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("i_end"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          (col("ts") - expr("INTERVAL 5 MINUTES")).as("p_start"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("p_end"))
      graft.operators.RangeJoin.overlapJoin(a, "i_start", "i_end",
          b, "p_start", "p_end", bucketMicros = 600L * 1000000)
        .select(col("incident_id"), col("purchase_id"),
          col("overlap_micros"))
        .orderBy(col("incident_id"), col("purchase_id"))
    },
      """WITH a AS (SELECT event_id AS incident_id, ts AS s,
        |  ts + INTERVAL 10 MINUTE AS e FROM events
        |  WHERE event_type = 'error'),
        |b AS (SELECT event_id AS purchase_id,
        |  ts - INTERVAL 5 MINUTE AS s, ts + INTERVAL 5 MINUTE AS e
        |  FROM events WHERE event_type = 'purchase')
        |SELECT incident_id, purchase_id,
        |  CAST(date_diff('microsecond', greatest(a.s, b.s),
        |    least(a.e, b.e)) AS BIGINT) AS overlap_micros
        |FROM a JOIN b ON a.s < b.e AND b.s < a.e
        |ORDER BY incident_id, purchase_id""".stripMargin),

    // ONE EM round of unigram-LM (SentencePiece-style) vocabulary
    // estimation — the third tokenizer family beside BPE (q84/q94) and
    // WordPiece greedy (q168): top-60 substring candidates + alphabet
    // closure, Viterbi E-step per DISTINCT word on the 1e-6 grid,
    // corpus-weighted M-step re-normalization. Words are the unit of
    // work (corpus mass rides as a count); the vocabulary is a
    // config-bounded driver table (the k-means-centroid contract).
    "q256_unigram_em" -> Query((s, dir) =>
      graft.operators.TokenizerTraining.unigramEmRound(
        T(s, dir, "documents"), "doc_id", "text", k = 60,
        maxPieceLen = 4, maxWordLen = 12, topOut = 30),
      HashOracles.q256UnigramEm(k = 60, maxPieceLen = 4,
        maxWordLen = 12, topOut = 30)),

    // Right-to-be-forgotten accounting: erase every 37th user from
    // events and file the per-event-type audit (before/removed/after/
    // units). The erase is an anti-join (bloom-pruned at scale);
    // PrivacySpec proves eraseUnits removes exactly the audit's rows.
    "q255_erasure_audit" -> Query((s, dir) => {
      val ev = events(s, dir)
      val dead = ev.select(col("user_id")).distinct()
        .filter(col("user_id") % 37 === 0)
      graft.operators.Privacy.erasureAudit(ev, "user_id", dead,
          Seq("event_type"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS rows_before,
        |  CAST(sum(CASE WHEN user_id % 37 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rows_removed,
        |  CAST(sum(CASE WHEN user_id % 37 = 0 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS rows_after,
        |  CAST(count(DISTINCT CASE WHEN user_id % 37 = 0
        |    THEN user_id END) AS BIGINT) AS units_erased
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Offline changepoint localization on the q251 series: CUSUM-
    // argmax split per priority with segment means — cusumDrift (q183)
    // says WHETHER a stream drifted; this says WHERE the corpus
    // series broke. Keyed windows only; scale=2 declares the
    // 2-decimal revenue grid so the prefix sums run as exact cents
    // (a float running sum is NOT portable: DuckDB's window sum is a
    // pairwise segment tree, Spark's a sequential fold — the r11 red).
    "q254_changepoint" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Robust.changePoint(daily, "o_orderpriority",
          "day", "rev", scale = 2)
        .orderBy(col("o_orderpriority"))
    },
      // The prefix sums run as EXACT cents (HUGEINT), mirroring the
      // operator's scaled-integer device: integer addition is order-free,
      // so DuckDB's segment-tree window sum and Spark's sequential fold
      // agree bit-for-bit (a float running sum does NOT — the r11 red).
      // Every output double is one cast + one division from exact ints.
      {
      val mb = Grid.snapSql(
        "CAST(sk AS DOUBLE) / (CAST(i AS DOUBLE) * 100.0)", 4)
      val ma = Grid.snapSql(
        "CAST(sn - sk AS DOUBLE) / (CAST(n - i AS DOUBLE) * 100.0)", 4)
      s"""WITH d AS (SELECT o_orderpriority AS k,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |    AS t, round(sum(o_totalprice), 2) AS y
        |  FROM orders GROUP BY 1, 2),
        |s AS (SELECT k, t,
        |  CAST(floor(y * 100.0 + 0.5) AS HUGEINT) AS sc FROM d),
        |w AS (SELECT k, t,
        |  CAST(row_number() OVER (PARTITION BY k ORDER BY t)
        |    AS BIGINT) AS i,
        |  sum(sc) OVER (PARTITION BY k ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS sk,
        |  sum(sc) OVER (PARTITION BY k) AS sn,
        |  CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n FROM s),
        |sc2 AS (SELECT *,
        |  ${Grid.snapSql(
             "CAST(abs(sk * n - i * sn) AS DOUBLE) / " +
               "(CAST(n AS DOUBLE) * 100.0)")}
        |    AS score
        |  FROM w WHERE n >= 2 AND i < n),
        |best AS (SELECT *, row_number() OVER (PARTITION BY k
        |  ORDER BY score DESC, i) AS rn FROM sc2)
        |SELECT k AS o_orderpriority, n, t AS t_split, score,
        |  $mb AS mean_before,
        |  $ma AS mean_after,
        |  ${Grid.snapSql(s"($ma) - ($mb)", 4)} AS delta
        |FROM best WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin
    }),

    // Additive Holt–Winters on the q251 series: the weekly seasonal
    // register rides inside the fold's accumulator (slot = day mod 7,
    // calendar-true so the 27%-gappy daily series keeps weekday
    // alignment), all 9 state cells re-round at 1e-6 per step —
    // the 1700-step seasonal trajectory replays engine-independently.
    "q253_holt_winters" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Forecast.holtWinters(daily, "o_orderpriority",
          "day", "rev", period = 7, alpha = 0.3, beta = 0.05,
          gamma = 0.2, horizon = 7)
        .orderBy(col("o_orderpriority"))
    },
      // the q251 list-accumulator fold grown a 7-slot register: state =
      // [l, b, s1..s7] (slot p = position p+3), elements [t, y]; the
      // 1-BASED index of DuckDB's (v, i) lambda vs Spark's 0-based
      // transform is absorbed by the +1 in the CASE
      {
      val lNew = Grid.snapSql("0.3e0 * (x[2] - a[CAST(x[1] % 7 AS " +
        "INT) + 3]) + 0.7e0 * (a[1] + a[2])")
      s"""WITH d AS (SELECT o_orderpriority,
         |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         |    AS day, round(sum(o_totalprice), 2) AS rev
         |  FROM orders GROUP BY 1, 2),
         |s AS (SELECT o_orderpriority,
         |  list([CAST(day AS DOUBLE), CAST(rev AS DOUBLE)]
         |    ORDER BY day) AS sl
         |  FROM d GROUP BY 1),
         |f AS (SELECT o_orderpriority, len(sl) AS n_obs,
         |  sl[-1][1] AS t_last,
         |  list_reduce(
         |    list_prepend(list_concat([sl[1][2], sl[2][2] - sl[1][2]],
         |        [0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0]),
         |      sl[2:]),
         |    (a, x) -> list_concat(
         |      [$lNew,
         |       ${Grid.snapSql(s"0.05e0 * ($lNew - a[1]) + 0.95e0 * a[2]")}],
         |      list_transform(a[3:], (v, i) ->
         |        CASE WHEN i = CAST(x[1] % 7 AS INT) + 1
         |          THEN ${Grid.snapSql(s"0.2e0 * (x[2] - $lNew) + 0.8e0 * v")}
         |          ELSE v END))) AS st
         |  FROM s WHERE len(sl) >= 2)
         |SELECT o_orderpriority, CAST(n_obs AS BIGINT) AS n_obs,
         |  st[1] AS level, st[2] AS trend,
         |  ${Grid.snapSql("list_aggregate(st[3:], 'min')")} AS s_min,
         |  ${Grid.snapSql("list_aggregate(st[3:], 'max')")} AS s_max,
         |  ${Grid.snapSql("st[1] + 7.0e0 * st[2] + " +
          "st[CAST((t_last + 7) % 7 AS INT) + 3]")} AS forecast_7
         |FROM f ORDER BY o_orderpriority""".stripMargin
    }),

    // USER-LEVEL DP noisy sums — the q239 mechanism grown up: each
    // user's per-event-type spend quantizes and clips to [0, 10]
    // (sensitivity = 10 for add/remove-one-user), the clipped group
    // sum takes geometric noise at α = 3/4 from the general rational-α
    // exact-integer threshold table (ε = 10·ln(4/3) ≈ 2.9). Clip bias
    // is the real DP trade; sum_clipped audits it.
    "q252_dp_sums" -> Query((s, dir) =>
      graft.operators.Privacy.noisySums(events(s, dir),
          Seq("event_type"), "user_id", "value", clip = 10L, seed = 7L)
        .orderBy(col("event_type")),
      HashOracles.q252DpSums(seed = 7L, clip = 10L, alphaNum = 3L,
        alphaDen = 4L, cap = 60)),

    // Holt linear-trend forecast of daily revenue per priority: the
    // level/trend state folds once through each key's ordered series
    // INSIDE codegen (aggregate HOF — per-key sequential state with
    // no window and no driver loop), re-rounded at 1e-6 per step so
    // the trajectory replays engine-independently; 30-day-ahead
    // forecast = level + 30·trend.
    "q251_holt_forecast" -> Query((s, dir) => {
      val daily = T(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"))
      graft.operators.Forecast.holtLinear(daily, "o_orderpriority",
          "day", "rev", alpha = 0.3, beta = 0.1, horizon = 30)
        .orderBy(col("o_orderpriority"))
    },
      // the same fold as the Spark aggregate HOF: the (level, trend)
      // state rides as a 2-element DOUBLE list (a struct accumulator
      // miscomputes its second field in DuckDB's list_reduce after the
      // first iteration — probed and avoided); observations map into
      // the same list shape so the one-type contract holds; every step
      // re-rounds at 1e-6, making the trajectory engine-independent
      {
      val lNew = Grid.snapSql("0.3e0 * x[1] + 0.7e0 * (a[1] + a[2])")
      s"""WITH d AS (SELECT o_orderpriority,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |    AS day, round(sum(o_totalprice), 2) AS rev
        |  FROM orders GROUP BY 1, 2),
        |s AS (SELECT o_orderpriority,
        |  list(CAST(rev AS DOUBLE) ORDER BY day) AS sl
        |  FROM d GROUP BY 1),
        |f AS (SELECT o_orderpriority, len(sl) AS n_obs,
        |  list_reduce(
        |    list_prepend([sl[1], sl[2] - sl[1]],
        |      list_transform(sl[2:],
        |        p -> [p, CAST(NULL AS DOUBLE)])),
        |    (a, x) -> [$lNew,
        |      ${Grid.snapSql(s"0.1e0 * ($lNew - a[1]) + 0.9e0 * a[2]")}])
        |    AS st
        |  FROM s WHERE len(sl) >= 2)
        |SELECT o_orderpriority, CAST(n_obs AS BIGINT) AS n_obs,
        |  st[1] AS level, st[2] AS trend,
        |  ${Grid.snapSql("st[1] + 30.0e0 * st[2]")} AS forecast_30
        |FROM f ORDER BY o_orderpriority""".stripMargin
    }),

    // CSV round trip with an EXPLICIT read schema: customers written
    // as real CSV (header, quoting) and read back typed — doubles
    // survive exactly (shortest-repr write, exact re-parse), so the
    // revenue profile hash-matches the parquet oracle. Schema-on-read
    // is the contract: FAILFAST so a drifted file dies loudly.
    "q250_csv_roundtrip" -> Query((s, dir) => {
      val p = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q250_csv").getAbsolutePath
      T(s, dir, "customer").write.mode("overwrite")
        .option("header", "true").csv(p)
      s.read.option("header", "true").option("mode", "FAILFAST")
        .schema("c_custkey LONG, c_name STRING, c_nationkey INT, " +
          "c_acctbal DOUBLE, c_mktsegment STRING")
        .csv(p)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_balance"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
        |  round(sum(c_acctbal), 2) AS total_balance
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),

    // ORC round trip: orders written as real ORC and read back with a
    // pushed date predicate — the third columnar interchange format
    // beside parquet and npy (plan spec asserts the ORC scan carries
    // PushedFilters, the same scan discipline as q02 on parquet).
    "q249_orc_roundtrip" -> Query((s, dir) => {
      val p = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_q249_orc").getAbsolutePath
      T(s, dir, "orders").write.mode("overwrite").orc(p)
      s.read.orc(p)
        .filter(col("o_orderdate").between(
          lit(java.sql.Date.valueOf("1995-01-01")),
          lit(java.sql.Date.valueOf("1995-12-31"))))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_orderdate BETWEEN DATE '1995-01-01'
        |  AND DATE '1995-12-31'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Benjamini–Hochberg FDR over a segment sweep — the multiple-
    // testing readout the experimentation family (q213-q215, q221)
    // still lacked: one Welch z per market segment (parity arms, a
    // planted +2000 lift on BUILDING's treatment so both verdicts are
    // exercised), then BH step-up at q=10% over the 5-row test table.
    // Unit-grain work is ONE (segment, arm) aggregation; every window
    // runs over the bounded test table.
    "q248_bh_fdr_sweep" -> Query((s, dir) => {
      val units = T(s, dir, "orders")
        .join(broadcast(T(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          pmod(col("o_custkey"), lit(2)).cast("string").as("arm"),
          (col("o_totalprice") + when(col("c_mktsegment") === "BUILDING"
            && pmod(col("o_custkey"), lit(2)) === 1, 2000.0)
            .otherwise(0.0)).as("y"))
      val z = graft.operators.Multiplicity.welchZBy(
        units, "seg", "arm", "y")
      graft.operators.Multiplicity.benjaminiHochberg(z, "p", "grp",
          qPct = 10)
        .select(col("grp").as("segment"), col("n_a"), col("n_b"),
          col("diff"), col("z"), col("p"), col("rank"),
          col("bh_threshold"), col("rejected"))
        .orderBy(col("rank").asc_nulls_last)
    },
      // exponent-suffixed literals are DOUBLE in DuckDB, so the A&S
      // polynomial is the identical double expression tree on both
      // engines; z rounds at 1e-4 before p, p at 1e-6 before BH
      """WITH u AS (SELECT c.c_mktsegment AS grp,
        |  CAST(o.o_custkey % 2 AS VARCHAR) AS arm,
        |  o.o_totalprice + CASE WHEN c.c_mktsegment = 'BUILDING'
        |    AND o.o_custkey % 2 = 1 THEN 2000.0e0 ELSE 0.0e0 END AS y
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |ag AS (SELECT grp, arm, CAST(count(*) AS BIGINT) AS n,
        |  sum(y) AS sy, sum(y * y) AS syy FROM u GROUP BY 1, 2),
        |st AS (SELECT grp, arm, n, sy / CAST(n AS DOUBLE) AS m,
        |  ((syy - sy * sy / CAST(n AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) - 1)) / CAST(n AS DOUBLE) AS s
        |  FROM ag),
        |zt AS (SELECT a.grp, a.n AS n_a, b.n AS n_b,
        |  round(a.m - b.m, 4) AS diff,
        |  round((a.m - b.m) / sqrt(a.s + b.s), 4) AS z
        |  FROM st a JOIN st b ON a.grp = b.grp
        |    AND a.arm = '0' AND b.arm = '1'),
        |pv AS (SELECT grp, n_a, n_b, diff, z,
        |  round(least(1.0e0, 2.0e0 *
        |    (exp(-0.5e0 * abs(z) * abs(z)) * 0.3989422804014327e0) *
        |    ((1.0e0 / (1.0e0 + 0.2316419e0 * abs(z))) *
        |      (0.319381530e0 + (1.0e0 / (1.0e0 + 0.2316419e0 * abs(z)))
        |        * (-0.356563782e0 + (1.0e0 / (1.0e0 + 0.2316419e0 *
        |          abs(z))) * (1.781477937e0 + (1.0e0 / (1.0e0 +
        |          0.2316419e0 * abs(z))) * (-1.821255978e0 +
        |          (1.0e0 / (1.0e0 + 0.2316419e0 * abs(z))) *
        |          1.330274429e0)))))), 6) AS p
        |  FROM zt),
        |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p, grp)
        |    AS INTEGER) AS rank,
        |  CAST(count(*) OVER () AS BIGINT) AS m FROM pv
        |  WHERE p IS NOT NULL),
        |th AS (SELECT *, round(CAST(rank AS DOUBLE) * 10 /
        |  (100.0e0 * m), 6) AS bh_threshold FROM rk),
        |km AS (SELECT *, max(CASE WHEN p <= bh_threshold THEN rank END)
        |  OVER () AS kmax FROM th)
        |SELECT grp AS segment, n_a, n_b, diff, z, p, rank,
        |  bh_threshold,
        |  kmax IS NOT NULL AND rank <= kmax AS rejected
        |FROM km
        |UNION ALL
        |SELECT grp, n_a, n_b, diff, z, p, CAST(NULL AS INTEGER),
        |  CAST(NULL AS DOUBLE), false FROM pv WHERE p IS NULL
        |ORDER BY rank NULLS LAST""".stripMargin),

    // Split-conformal prediction intervals: distribution-free ±q̂
    // coverage for the per-priority order-value predictor — train/cal/
    // test by the q147 deterministic id-hash split (the stability
    // conformal's exchangeability needs), q̂ at the exact
    // ⌈(n_cal+1)(1−α)⌉ calibration-residual rank, coverage measured
    // held-out. Swap any model's prediction column in unchanged.
    "q247_conformal_intervals" -> Query((s, dir) =>
      graft.operators.Conformal.splitConformalByGroup(
          T(s, dir, "orders"), "o_orderkey", "o_orderpriority",
          "o_totalprice", alphaPct = 10)
        .orderBy(col("o_orderpriority")),
      HashOracles.q247Conformal(10)),

    // Theil–Sen robust per-user spend trend — the median-of-pairwise-
    // slopes complement to q163's grouped OLS (outlier days can swing
    // a least-squares slope arbitrarily; the pairwise median has a
    // 29% breakdown point). Pair space is bounded per key by the
    // deterministic maxPoints cap; every window is keyed.
    "q246_theil_sen_trend" -> Query((s, dir) =>
      graft.operators.Robust.theilSenTrend(
          events(s, dir).filter(col("event_type") === "purchase")
            .withColumn("day", datediff(col("ts").cast("date"),
              lit(java.sql.Date.valueOf("1970-01-01")))),
          "user_id", "day", "value", maxPoints = 64)
        .orderBy(col("user_id")),
      // lower-median at nearest rank over the (slope, i, j) order —
      // the replay convention on both engines
      """WITH p0 AS (SELECT user_id,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |    AS DOUBLE) AS x, value AS y
        |  FROM events WHERE event_type = 'purchase'),
        |pts AS (SELECT user_id, x, y, row_number() OVER
        |  (PARTITION BY user_id ORDER BY x, y) AS i FROM p0),
        |cap AS (SELECT * FROM pts WHERE i <= 64),
        |pr AS (SELECT a.user_id, a.i AS ai, b.i AS bi,
        |  round((b.y - a.y) / (b.x - a.x), 6) AS m
        |  FROM cap a JOIN cap b ON a.user_id = b.user_id
        |    AND a.i < b.i AND a.x <> b.x),
        |np AS (SELECT user_id, count(*) AS n_pairs FROM pr GROUP BY 1),
        |rk AS (SELECT user_id, m, ai, bi, row_number() OVER
        |  (PARTITION BY user_id ORDER BY m, ai, bi) AS rn FROM pr),
        |md AS (SELECT rk.user_id, rk.m AS slope, np.n_pairs FROM rk
        |  JOIN np USING (user_id) WHERE rk.rn = (np.n_pairs + 1) // 2),
        |npts AS (SELECT user_id, count(*) AS n_points FROM cap
        |  GROUP BY 1),
        |res AS (SELECT c.user_id, round(c.y - md.slope * c.x, 6) AS r,
        |  c.i FROM cap c JOIN md USING (user_id)),
        |rr AS (SELECT user_id, r, row_number() OVER
        |  (PARTITION BY user_id ORDER BY r, i) AS rn FROM res),
        |ic AS (SELECT rr.user_id, rr.r AS intercept FROM rr
        |  JOIN npts USING (user_id)
        |  WHERE rr.rn = (npts.n_points + 1) // 2)
        |SELECT md.user_id, CAST(npts.n_points AS BIGINT) AS n_points,
        |  CAST(md.n_pairs AS BIGINT) AS n_pairs, md.slope, ic.intercept
        |FROM md JOIN npts USING (user_id) JOIN ic USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // Capstone #19 — image dedup closed end to end: the q236 pair
    // table pushed through connected components (A~B and B~C dedup
    // together even when A~C never met in a block) and reported per
    // cluster under its min-id canonical — the media corpus now walks
    // the SAME canonicalization road as text (q43) and entities
    // (q153). The oracle labels components by recursive reachability
    // (the q153 device) over the all-pairs Hamming filter.
    "q245_image_dedup_canonical" -> Query((s, dir) => {
      val base = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val copies = base.filter(col("vec_id") % 3 < 2)
        .select((col("vec_id") + lit(100000L)).as("vec_id"),
          expr("CASE WHEN vec_id % 3 = 1 THEN transform(pixels, " +
            "(p, i) -> CASE WHEN i % 16 = 0 THEN least(p + 3, 255D) " +
            "ELSE p END) ELSE pixels END").as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(base.union(copies),
          "vec_id", "pixels", side = 8), "media_id", "media")
      val pairs = graft.operators.MediaDedup.nearDupPairs(
        graft.operators.MediaDedup.averageHash(media), maxHamming = 3)
      graft.operators.Dedup.connectedComponents(pairs, "a_id", "b_id")
        .groupBy(col("component").as("canonical_id"))
        .agg(count(lit(1)).as("n_images"))
        .orderBy(col("canonical_id"))
    },
      // the q236 hash chain + q153's recursive-reachability components,
      // labeled by min member id
      """WITH base AS (SELECT vec_id AS media_id, i,
        |  CAST(greatest(0, least(255, floor((CAST(embedding[i+1]
        |    AS DOUBLE) + 1.0) * 127.5))) AS BIGINT) AS p
        |  FROM embeddings, range(64) t(i)),
        |corpus AS (
        |  SELECT media_id, i, p FROM base
        |  UNION ALL
        |  SELECT media_id + 100000, i,
        |    CASE WHEN media_id % 3 = 1 AND i % 16 = 0
        |      THEN least(p + 3, 255) ELSE p END
        |  FROM base WHERE media_id % 3 < 2),
        |s AS (SELECT media_id, sum(p) AS tot FROM corpus GROUP BY 1),
        |bits AS (SELECT c.media_id, i,
        |  CASE WHEN 64 * p > tot THEN 1 ELSE 0 END AS b
        |  FROM corpus c JOIN s USING (media_id)),
        |blocks AS (SELECT media_id, i // 16 AS blk,
        |  CAST(sum(b * (1::BIGINT << CAST(15 - (i % 16) AS INT)))
        |    AS BIGINT) AS bv
        |  FROM bits GROUP BY 1, 2),
        |wide AS (SELECT media_id,
        |  max(CASE WHEN blk = 0 THEN bv END) AS b0,
        |  max(CASE WHEN blk = 1 THEN bv END) AS b1,
        |  max(CASE WHEN blk = 2 THEN bv END) AS b2,
        |  max(CASE WHEN blk = 3 THEN bv END) AS b3
        |  FROM blocks GROUP BY 1),
        |pr AS (SELECT a.media_id AS a_id, b.media_id AS b_id
        |  FROM wide a JOIN wide b ON a.media_id < b.media_id
        |  WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        |    <= 3),
        |ed AS (SELECT a_id AS sn, b_id AS dn FROM pr
        |  UNION SELECT b_id, a_id FROM pr),
        |nodes AS (SELECT DISTINCT sn AS node FROM ed),
        |reach AS (WITH RECURSIVE r(node, lbl) AS (
        |    SELECT node, node FROM nodes
        |    UNION
        |    SELECT e.dn, r.lbl FROM r JOIN ed e ON e.sn = r.node
        |  ) SELECT * FROM r),
        |comp AS (SELECT node, min(lbl) AS component FROM reach
        |  GROUP BY node)
        |SELECT component AS canonical_id,
        |  CAST(count(*) AS BIGINT) AS n_images
        |FROM comp GROUP BY 1 ORDER BY canonical_id""".stripMargin),

    // Declarative expectations audit (the Deequ pattern): six named
    // rules over lineitem, ONE conditional-agg corpus pass whatever
    // the rule count (asserted in the plan spec), unpivoted to the
    // per-rule gate report. tax_low is deliberately violable so the
    // report exercises both verdicts.
    "q244_expectations_audit" -> Query((s, dir) =>
      graft.operators.Expectations.audit(T(s, dir, "lineitem"), Seq(
          "qty_range" -> col("l_quantity").between(1, 50),
          "price_positive" -> (col("l_extendedprice") > 0),
          "discount_unit" -> col("l_discount").between(0, 0.1),
          "linenumber_range" ->
            col("l_linenumber").between(1, 7),
          "returnflag_domain" ->
            col("l_returnflag").isin("A", "N", "R"),
          "tax_low" -> (col("l_tax") <= 0.05)))
        .orderBy(col("rule")),
      {
      val rules = Seq(
        "qty_range" -> "l_quantity BETWEEN 1 AND 50",
        "price_positive" -> "l_extendedprice > 0",
        "discount_unit" -> "l_discount BETWEEN 0 AND 0.1",
        "linenumber_range" -> "l_linenumber BETWEEN 1 AND 7",
        "returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
        "tax_low" -> "l_tax <= 0.05")
      val arms = rules.map { case (nm, sql) =>
        s"SELECT '$nm' AS rule, CAST(sum(CASE WHEN coalesce($sql, " +
          "FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations " +
          "FROM lineitem"
      }.mkString("\nUNION ALL\n")
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows
         |  FROM lineitem),
         |v AS ($arms)
         |SELECT rule, n_rows, n_violations,
         |  round(1.0 - n_violations / CAST(n_rows AS DOUBLE), 6)
         |    AS pass_rate
         |FROM v, nn ORDER BY rule""".stripMargin
    }),

    // TextRank keywords (Mihalcea & Tarau): damped PageRank over the
    // word co-occurrence graph — adjacent corpus positions, both
    // endpoints in the count-bounded vocabulary (the syntactic-filter
    // stand-in; swap a POS filter in unchanged). Composes the SAME
    // Graph.pageRank loop as q152's doc graph: vocab is the bounded
    // node set, so every per-round frame is dictionary-grain, and the
    // oracle replays the identical unrolled rounds.
    "q243_textrank_keywords" -> Query((s, dir) => {
      val tok = T(s, dir, "documents")
        .select(col("doc_id"), posexplode(toks(col("text")))
          .as(Seq("i", "w")))
      val vocab = graft.CacheScope.register(tok.groupBy(col("w"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 10)
        .persist())
      val tv = tok.join(vocab.select(col("w")), Seq("w"))
      val a = tv.select(col("doc_id"), col("i"), col("w").as("wa"))
      val b = tv.select(col("doc_id"), (col("i") - 1).as("i"),
        col("w").as("wb"))
      val e0 = a.join(b, Seq("doc_id", "i"))
        .filter(col("wa") =!= col("wb"))
        .select(least(col("wa"), col("wb")).as("s"),
          greatest(col("wa"), col("wb")).as("d")).distinct()
      val ed = e0.unionByName(
        e0.select(col("d").as("s"), col("s").as("d")))
      graft.operators.Graph.pageRank(vocab.select(col("w")), "w",
          ed, "s", "d", iters = 10)
        .crossJoin(broadcast(vocab
          .agg(count(lit(1)).cast("double").as("__n"))))
        .select(col("w").as("word"), col("deg"),
          round(col("pr") * col("__n"), 4).as("pr_norm"))
        .orderBy(col("pr_norm").desc, col("word")).limit(20)
    },
      textrankOracle(10, 10)),

    // Capstone #18 — the corpus DATACARD: the per-source release
    // sheet every corpus ships (docs, token volume, language spread,
    // exact-dup rate, length profile) as ONE partial-aggregable
    // groupBy — every metric here is mergeable (counts, sums,
    // distinct-sketchable at scale via the q122 HLL swap-in), so the
    // card costs one corpus pass.
    "q242_corpus_datacard" -> Query((s, dir) => {
      val d = T(s, dir, "documents")
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks(col("text"))).cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          round(sum(when(col("lang") === "en", 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 4).as("pct_en"),
          (count(lit(1)) - countDistinct(md5(col("text"))))
            .as("n_exact_dups"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 2)
            .as("mean_chars"))
        .orderBy(col("source"))
    },
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($ToksSql)) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 4) AS pct_en,
         |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
         |    AS n_exact_dups,
         |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 2)
         |    AS mean_chars
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // k-anonymity by local generalization up the nation→region
    // hierarchy: classes ≥ k release at nation grain, small ones merge
    // to region grain, still-small merged classes suppress — the
    // release accounting q238's flat suppression can't express (it
    // threw those rows away; here they survive one level coarser).
    "q241_k_generalize" -> Query((s, dir) => {
      val hier = T(s, dir, "nation")
        .select(col("n_nationkey").as("child"),
          col("n_regionkey").as("parent"))
      graft.operators.Privacy.generalizeToK(T(s, dir, "customer"),
          "c_nationkey", Seq("c_mktsegment"), hier, k = 10)
        .orderBy(col("level"), col("qi"), col("c_mktsegment"))
    },
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1, 2),
        |fine AS (SELECT 'child' AS level,
        |  CAST(c_nationkey AS VARCHAR) AS qi, c_mktsegment, n
        |  FROM cls WHERE n >= 10),
        |co AS (SELECT n_regionkey AS parent, c_mktsegment,
        |  CAST(sum(n) AS BIGINT) AS cn
        |  FROM cls JOIN nation ON n_nationkey = c_nationkey
        |  WHERE n < 10 GROUP BY 1, 2),
        |pok AS (SELECT 'parent' AS level, CAST(parent AS VARCHAR) AS qi,
        |  c_mktsegment, cn AS n FROM co WHERE cn >= 10),
        |sup AS (SELECT 'suppressed' AS level, '*' AS qi, c_mktsegment,
        |  CAST(sum(cn) AS BIGINT) AS n FROM co WHERE cn < 10
        |  GROUP BY c_mktsegment)
        |SELECT level, qi, c_mktsegment, n FROM
        |  (SELECT * FROM fine UNION ALL SELECT * FROM pok
        |   UNION ALL SELECT * FROM sup)
        |ORDER BY level, qi, c_mktsegment""".stripMargin),

    // Per-frame audio features off REAL WAV decode: the q229 PCM16
    // corpus framed at 16 samples, per frame the exact integer energy
    // (sum of squares) and strict-sign-change zero-crossing count —
    // the VAD/quality front end of an audio pipeline, integer end to
    // end so the decode→frame→feature path replays in SQL.
    "q240_audio_frames" -> Query((s, dir) => {
      val sm = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor(CAST(v AS DOUBLE) * 10000.0))").as("samples"))
      val wav = graft.operators.Multimodal.encodeWavPcm16(
        sm, "vec_id", "samples")
      graft.operators.Multimodal.audioFrameFeatures(wav, frameLen = 16)
        .orderBy(col("media_id"), col("frame_idx"))
    },
      // PCM is lossless, so frames/energy/crossings replay from the
      // quantized embeddings alone; lag() inside (media, frame) keeps
      // the crossing count frame-local like the Spark side
      """WITH sm AS (SELECT vec_id AS media_id, i,
        |  CAST(greatest(-32768, least(32767,
        |    floor(CAST(embedding[i+1] AS DOUBLE) * 10000.0)))
        |    AS BIGINT) AS v
        |  FROM embeddings, range(64) t(i)),
        |fr AS (SELECT media_id, CAST(i // 16 AS INTEGER) AS frame_idx,
        |  i, v, lag(v) OVER (PARTITION BY media_id, i // 16 ORDER BY i)
        |    AS p
        |  FROM sm)
        |SELECT media_id, frame_idx,
        |  CAST(count(*) AS INTEGER) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS energy,
        |  CAST(sum(CASE WHEN p IS NOT NULL AND ((p < 0 AND v >= 0)
        |    OR (p >= 0 AND v < 0)) THEN 1 ELSE 0 END) AS INTEGER)
        |    AS zero_crossings
        |FROM fr GROUP BY media_id, frame_idx
        |ORDER BY media_id, frame_idx""".stripMargin),

    // Min/max skipping manifest — the lake-format file-stats table as
    // an operator, measured as a LAYOUT comparison: the same one-
    // quarter date predicate under a date-range shard layout (shard =
    // day DIV 160) vs a key-scatter layout (shard = orderkey mod 16,
    // the hash-layout stand-in). The manifest is shard-grain, pruning
    // never touches the corpus, and the law (range layout scans ~1/16
    // of rows, scatter scans all of them) is the q234/q227 data-
    // skipping story made quantitative. Real-file pruning (partition
    // dirs a reader must touch) is proven in SkippingManifestSpec.
    "q237_minmax_pruning" -> Query((s, dir) => {
      val o = T(s, dir, "orders")
      val lo = lit(java.sql.Date.valueOf("1995-01-01"))
      val hi = lit(java.sql.Date.valueOf("1995-03-31"))
      def est(df: DataFrame, tag: String) =
        graft.sources.SkippingManifest.scanEstimate(
          graft.sources.SkippingManifest.build(df, "shard",
            Seq("o_orderdate")), "o_orderdate", lo, hi)
          .withColumn("layout", lit(tag))
      val range = o.withColumn("shard", expr(
        "CAST(datediff(o_orderdate, DATE '1992-01-01') DIV 160 AS INT)"))
      val scatter = o.withColumn("shard",
        pmod(col("o_orderkey"), lit(16)).cast("int"))
      est(range, "range").unionByName(est(scatter, "scatter"))
        .select(col("layout"), col("n_shards"), col("shards_kept"),
          col("rows_total"), col("rows_scanned"), col("scan_fraction"))
        .orderBy(col("layout"))
    },
      """WITH sh AS (SELECT date_diff('day', DATE '1992-01-01',
        |    o_orderdate) // 160 AS rshard, o_orderkey % 16 AS hshard,
        |    o_orderdate FROM orders),
        |rm AS (SELECT rshard, count(*) AS n_rows, min(o_orderdate) AS mn,
        |  max(o_orderdate) AS mx FROM sh GROUP BY 1),
        |hm AS (SELECT hshard, count(*) AS n_rows, min(o_orderdate) AS mn,
        |  max(o_orderdate) AS mx FROM sh GROUP BY 1),
        |re AS (SELECT 'range' AS layout, CAST(count(*) AS BIGINT)
        |    AS n_shards,
        |  CAST(sum(CASE WHEN mx >= DATE '1995-01-01'
        |    AND mn <= DATE '1995-03-31' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS shards_kept,
        |  CAST(sum(n_rows) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN mx >= DATE '1995-01-01'
        |    AND mn <= DATE '1995-03-31' THEN n_rows ELSE 0 END)
        |    AS BIGINT) AS rows_scanned FROM rm),
        |he AS (SELECT 'scatter' AS layout, CAST(count(*) AS BIGINT)
        |    AS n_shards,
        |  CAST(sum(CASE WHEN mx >= DATE '1995-01-01'
        |    AND mn <= DATE '1995-03-31' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS shards_kept,
        |  CAST(sum(n_rows) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN mx >= DATE '1995-01-01'
        |    AND mn <= DATE '1995-03-31' THEN n_rows ELSE 0 END)
        |    AS BIGINT) AS rows_scanned FROM hm)
        |SELECT layout, n_shards, shards_kept, rows_total, rows_scanned,
        |  round(rows_scanned / CAST(rows_total AS DOUBLE), 4)
        |    AS scan_fraction
        |FROM (SELECT * FROM re UNION ALL SELECT * FROM he)
        |ORDER BY layout""".stripMargin),

    // ε = ln 2 DP counts (geometric mechanism): per-(source, lang)
    // counts released with two-sided-geometric noise whose uniform is
    // the replay-exact hash family and whose inverse CDF is a shared
    // exact-integer threshold table (Privacy.geometricThresholds) —
    // no transcendental in the sampling path, so the release gates
    // bit-exactly. n/noise ride along as audit columns (deterministic
    // given the release seed; a real release emits n_noisy alone).
    "q239_dp_counts" -> Query((s, dir) =>
      graft.operators.Privacy.noisyCounts(T(s, dir, "documents"),
          Seq("source", "lang"), seed = 42L, cap = 20)
        .orderBy(col("source"), col("lang")),
      HashOracles.q239DpCounts(seed = 42L, cap = 20)),

    // k-anonymity audit + suppression accounting over the customer
    // quasi-identifiers (nation × market segment): one row per
    // equivalence class with its size, the k=10 suppression verdict,
    // and the released row count — the group table IS the release's
    // accounting; the row-level release is the same table as a
    // broadcast semi-join (PrivacySpec proves row counts agree).
    "q238_k_anonymity" -> Query((s, dir) =>
      graft.operators.Privacy.kAnonymityAudit(T(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n,
        |  count(*) < 10 AS suppressed,
        |  CASE WHEN count(*) < 10 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(count(*) AS BIGINT) END AS n_released
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    // Image near-dup dedup, real codec end to end: the q235 corpus
    // plus PLANTED copies (vec_id%3=0 → exact pixel copy, %3=1 → +3
    // on every 16th pixel — the dedup-fixture device, deterministic
    // so the oracle replays it), PNG-encoded, DECODED back through
    // ImageIO, average-hashed, and joined by the 4-block banding.
    // maxHamming=3 < 4 blocks makes the bucket join lossless by
    // pigeonhole, so the oracle can state the semantics as the plain
    // all-pairs Hamming filter while the engine never goes all-pairs.
    "q236_image_neardup" -> Query((s, dir) => {
      val base = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val copies = base.filter(col("vec_id") % 3 < 2)
        .select((col("vec_id") + lit(100000L)).as("vec_id"),
          expr("CASE WHEN vec_id % 3 = 1 THEN transform(pixels, " +
            "(p, i) -> CASE WHEN i % 16 = 0 THEN least(p + 3, 255D) " +
            "ELSE p END) ELSE pixels END").as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(base.union(copies),
          "vec_id", "pixels", side = 8), "media_id", "media")
      graft.operators.MediaDedup.nearDupPairs(
          graft.operators.MediaDedup.averageHash(media), maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    },
      // pigeonhole (Hamming ≤ 3 with 4 blocks ⇒ some block equal) lets
      // the oracle state the result as the plain all-pairs filter; the
      // engine side reaches the same set through the bucket equi-join
      """WITH base AS (SELECT vec_id AS media_id, i,
        |  CAST(greatest(0, least(255, floor((CAST(embedding[i+1]
        |    AS DOUBLE) + 1.0) * 127.5))) AS BIGINT) AS p
        |  FROM embeddings, range(64) t(i)),
        |corpus AS (
        |  SELECT media_id, i, p FROM base
        |  UNION ALL
        |  SELECT media_id + 100000, i,
        |    CASE WHEN media_id % 3 = 1 AND i % 16 = 0
        |      THEN least(p + 3, 255) ELSE p END
        |  FROM base WHERE media_id % 3 < 2),
        |s AS (SELECT media_id, sum(p) AS tot FROM corpus GROUP BY 1),
        |bits AS (SELECT c.media_id, i,
        |  CASE WHEN 64 * p > tot THEN 1 ELSE 0 END AS b
        |  FROM corpus c JOIN s USING (media_id)),
        |blocks AS (SELECT media_id, i // 16 AS blk,
        |  CAST(sum(b * (1::BIGINT << CAST(15 - (i % 16) AS INT)))
        |    AS BIGINT) AS bv
        |  FROM bits GROUP BY 1, 2),
        |wide AS (SELECT media_id,
        |  max(CASE WHEN blk = 0 THEN bv END) AS b0,
        |  max(CASE WHEN blk = 1 THEN bv END) AS b1,
        |  max(CASE WHEN blk = 2 THEN bv END) AS b2,
        |  max(CASE WHEN blk = 3 THEN bv END) AS b3
        |  FROM blocks GROUP BY 1)
        |SELECT a.media_id AS a_id, b.media_id AS b_id,
        |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        |    AS INTEGER) AS hamming
        |FROM wide a JOIN wide b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        |    <= 3
        |ORDER BY a_id, b_id""".stripMargin),

    // 64-bit average-hash of REAL images: all 64 embedding dims
    // quantized to an 8×8 grayscale PNG (genuine ImageIO bytes),
    // decoded back, hashed by integer cell-vs-image mean comparison
    // (MediaDedup.averageHash — no float in the hash), emitted as 4
    // 16-bit blocks + popcount. PNG is lossless, so the oracle
    // recomputes the identical bits from the embeddings alone.
    "q235_image_ahash" -> Query((s, dir) => {
      val px = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(px, "vec_id", "pixels",
          side = 8), "media_id", "media")
      graft.operators.MediaDedup.averageHash(media)
        .orderBy(col("media_id"))
    },
      // the aHash bits from the embeddings alone (PNG is lossless):
      // pixel p_i = clamp(floor((v+1)·127.5)), bit_i = 64·p_i > Σp,
      // blocks pack MSB-first — integer arithmetic end to end
      """WITH px AS (SELECT vec_id AS media_id, i,
        |  CAST(greatest(0, least(255, floor((CAST(embedding[i+1]
        |    AS DOUBLE) + 1.0) * 127.5))) AS BIGINT) AS p
        |  FROM embeddings, range(64) t(i)),
        |s AS (SELECT media_id, sum(p) AS tot FROM px GROUP BY 1),
        |bits AS (SELECT px.media_id, i,
        |  CASE WHEN 64 * p > tot THEN 1 ELSE 0 END AS b
        |  FROM px JOIN s USING (media_id))
        |SELECT media_id,
        |  CAST(sum(CASE WHEN i // 16 = 0 THEN b * (1::BIGINT <<
        |    CAST(15 - (i % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b0,
        |  CAST(sum(CASE WHEN i // 16 = 1 THEN b * (1::BIGINT <<
        |    CAST(15 - (i % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b1,
        |  CAST(sum(CASE WHEN i // 16 = 2 THEN b * (1::BIGINT <<
        |    CAST(15 - (i % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b2,
        |  CAST(sum(CASE WHEN i // 16 = 3 THEN b * (1::BIGINT <<
        |    CAST(15 - (i % 16) AS INT)) ELSE 0 END) AS BIGINT) AS b3,
        |  CAST(sum(b) AS INTEGER) AS n_ones
        |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin),

    // Z-order layout keys: Morton-interleaved (customer, order-day) —
    // the multi-dimensional data-skipping complement to q227's
    // single-key bucketing. The key is pure codegen'd bit algebra;
    // the layout write is one repartitionByRange(zkey), and the
    // measured claim (a 2-D box filter touches strictly fewer files
    // than a hash scatter) lives in ZOrderSpec.
    "q234_zorder_keys" -> Query((s, dir) =>
      T(s, dir, "orders")
        .withColumn("zx", pmod(col("o_custkey"), lit(65536)).cast("long"))
        .withColumn("zy", datediff(col("o_orderdate"),
          lit(java.sql.Date.valueOf("1992-01-01"))).cast("long"))
        .select(col("o_orderkey"), col("zx"), col("zy"),
          graft.functions.ZOrder.interleave2(col("zx"), col("zy"), 16)
            .as("zkey"))
        .orderBy(col("zkey"), col("o_orderkey")).limit(50),
      // the same 32-term bit-interleave, spelled in SQL
      {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((zx >> $i) & 1) << ${2 * i})",
        s"(((zy >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH d AS (SELECT o_orderkey,
         |  CAST(o_custkey % 65536 AS BIGINT) AS zx,
         |  CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
         |    AS BIGINT) AS zy
         |  FROM orders)
         |SELECT o_orderkey, zx, zy,
         |  ${terms.mkString(" | ")} AS zkey
         |FROM d ORDER BY zkey, o_orderkey LIMIT 50""".stripMargin
    }),

    // q181's token-weighted median, production path: the exact device
    // is a corpus-grain cumulative-weight window; here the weighted
    // bottom-k sample (Efraimidis–Spirakis keys — q119's replay-exact
    // device) holds k=32 rows per source forever and its UNWEIGHTED
    // sample median estimates the weighted one (retention ∝ weight).
    // The exact median and total weight ride along as audit columns —
    // the q220 pattern, weighted.
    "q233_weighted_median_sketch" -> Query((s, dir) => {
      val d = T(s, dir, "documents")
        .withColumn("w", size(toks(col("text"))))
        .filter(col("w") > 0 && col("n_chars").isNotNull)
      val est = graft.operators.QuantileSketch.sampleQuantilesBy(
        graft.operators.QuantileSketch.weightedSampleRegistersBy(
          d, "source", "doc_id", "n_chars", "w", k = 32), Seq(50))
      val wCum = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ex = d
        .withColumn("cum", sum(col("w").cast("long")).over(wCum))
        .withColumn("tot", sum(col("w").cast("long")).over(
          Window.partitionBy(col("source"))))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy(col("source"))
        .agg(min(col("n_chars")).as("wm_exact"),
          max(col("tot")).as("total_weight"))
      est.select(col("key").as("source"), col("n_kept"),
          col("q_est").as("wm_est"))
        .join(ex, Seq("source"))
        .select(col("source"), col("n_kept"), col("wm_est"),
          col("wm_exact"), col("total_weight"))
        .orderBy(col("source"))
    },
      HashOracles.q233WeightedMedianSketch(32)),

    // Multi-query eval harness: three query vectors ride the SAME
    // shared IVF assignment (one map pass assigns every vector its
    // argmax list; each query's candidates = its list, a keyed
    // equi-join) and score per-query recall/MRR/NDCG against the
    // exact top-10 — the keyed [[RankEval.vsTruthBy]] form a real
    // eval set runs, zero-hit queries included.
    "q232_retrieval_eval_by" -> Query((s, dir) => {
      val vectors = T(s, dir, "embeddings")
      val asg = Similarity.assignLists(vectors, "embedding")
      val qs = asg.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("qid"), col("list_id"),
          col("embedding").as("q_emb"))
      val cand = asg
        .join(broadcast(qs), Seq("list_id"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VF.cosine(col("embedding"), col("q_emb")).as("cos"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
      val truth = vectors
        .crossJoin(broadcast(qs.select(col("qid"), col("q_emb"))))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VF.cosine(col("embedding"), col("q_emb")).as("cos"))
        .withColumn("trank", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("trank") <= 10)
        .select(col("qid"), col("vec_id"))
      graft.operators.RankEval.vsTruthBy(cand, truth, "qid", "vec_id",
          "rank", k = 10)
        .orderBy(col("qid"))
    },
      HashOracles.q232RetrievalEvalBy),

    // Retrieval evaluation inside the gate: the q55 multi-probe LSH
    // list (query excluded) scored against the exact brute-force
    // top-10 by recall@10 / MRR / NDCG@10 — the number the ANN specs
    // quote, now replay-checked at query level. Both DCG folds run
    // over sorted rank lists so the float accumulation order matches.
    "q231_retrieval_eval" -> Query((s, dir) => {
      val vectors = T(s, dir, "embeddings")
      val q = vectors.filter(col("vec_id") === 0L)
        .select(col("embedding").as("q_emb"))
      val truth = Similarity.neighborsOf(vectors, "vec_id", "embedding",
        queryId = 0L, k = 10)
      val cand = graft.operators.Ranks.withOrderedPrefixScan(
          Similarity.lshTopK(
            vectors.filter(col("vec_id") =!= 0L), "vec_id", "embedding",
            q, k = 10, nProbes = 8),
          Seq(col("cos").desc, col("vec_id")), Seq.empty,
          idxCol = "__rk")
        .withColumn("rank", col("__rk").cast("int"))
      graft.operators.RankEval.vsTruth(cand, truth, "vec_id", "rank",
        k = 10)
    },
      HashOracles.q231RetrievalEval),

    // Resize stage, round-tripped: the q228 4×4 PNGs pooled to REAL
    // 2×2 thumbnails (exact block-average resize, re-encoded PNG),
    // headers re-decoded, thumbnail pixels summed. Every resized
    // pixel is ⌊block-sum/4⌋ of the quantized embedding values, so
    // the oracle recomputes the thumbnail sums with integer
    // arithmetic alone — decode→resize→encode→decode, all real bytes.
    "q230_image_resize" -> Query((s, dir) => {
      val px = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(slice(embedding, 1, 16), " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(px, "vec_id", "pixels",
          side = 4), "media_id", "media")
      val thumbs = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.resizeImages(media, targetSide = 2),
        "media_id", "media")
      val meta = graft.operators.Multimodal.decodeImageMeta(thumbs)
      val feats = graft.operators.Multimodal.extractFeatures(thumbs,
          dim = 4, codec = graft.operators.Multimodal.ImageIoCodec)
        .select(col("media_id"),
          expr("CAST(aggregate(feature, 0.0D, (a, x) -> " +
            "a + CAST(x AS DOUBLE)) AS BIGINT)").as("thumb_sum"))
      meta.join(feats, Seq("media_id"))
        .select(col("media_id"), col("format"), col("width"),
          col("height"), col("thumb_sum"))
        .orderBy(col("media_id"))
    },
      // thumbnail pixel (cy,cx) = floor(2x2-block-sum / 4) of the
      // quantized grid — integer arithmetic end to end
      """WITH q AS (SELECT vec_id,
        |  list_transform(embedding[1:16], v -> CAST(greatest(0,
        |    least(255, floor((CAST(v AS DOUBLE) + 1.0) * 127.5)))
        |    AS BIGINT)) AS p
        |  FROM embeddings)
        |SELECT vec_id AS media_id, 'image/png' AS format,
        |  CAST(2 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
        |  (p[1] + p[2] + p[5] + p[6]) // 4
        |    + (p[3] + p[4] + p[7] + p[8]) // 4
        |    + (p[9] + p[10] + p[13] + p[14]) // 4
        |    + (p[11] + p[12] + p[15] + p[16]) // 4 AS thumb_sum
        |FROM q ORDER BY media_id""".stripMargin),

    // q228's audio sibling: embeddings quantized to PCM16, encoded as
    // REAL mono WAV through javax.sound's own writer, headers decoded
    // back (encoding/rate/channels/frames from the actual RIFF
    // parse), waveform pooled by WavCodec into exact per-window
    // sample sums — PCM is lossless, so the oracle recomputes the
    // sums from the embeddings alone.
    "q229_audio_roundtrip" -> Query((s, dir) => {
      val sm = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(slice(embedding, 1, 16), " +
          "v -> floor(CAST(v AS DOUBLE) * 10000.0))").as("samples"))
      val wav = graft.operators.Multimodal.encodeWavPcm16(
        sm, "vec_id", "samples")
      val meta = graft.operators.Multimodal.decodeAudioMeta(wav)
      val feats = graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.asMedia(wav, "media_id", "media"),
          dim = 16, codec = graft.operators.Multimodal.WavCodec)
        .select(col("media_id"),
          expr("CAST(aggregate(feature, 0.0D, (a, x) -> " +
            "a + CAST(x AS DOUBLE)) AS BIGINT)").as("sample_sum"))
      meta.join(feats, Seq("media_id"))
        .select(col("media_id"), col("encoding"), col("sample_rate"),
          col("channels"), col("n_frames"), col("sample_sum"))
        .orderBy(col("media_id"))
    },
      """SELECT vec_id AS media_id, 'PCM_SIGNED' AS encoding,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(16 AS BIGINT) AS n_frames,
        |  CAST(list_sum(list_transform(embedding[1:16],
        |    v -> greatest(-32768, least(32767,
        |      floor(CAST(v AS DOUBLE) * 10000.0)))))
        |    AS BIGINT) AS sample_sum
        |FROM embeddings ORDER BY media_id""".stripMargin),

    // REAL image codec round trip, SQL-proven: quantize each
    // embedding's first 16 dims to 0..255, encode as genuine 4×4
    // grayscale PNGs (javax.imageio — the JDK's own encoder), sniff
    // the magic, decode the headers, pool features through
    // ImageIoCodec, and emit the per-image pixel sum. PNG is lossless
    // and the pooled 4×4 grid at dim=16 IS the pixel grid, so the
    // oracle computes the identical sums from the embeddings alone —
    // the whole encode→sniff→decode→pool path gates bit-exactly.
    // (PNG byte length is encoder-build-dependent and deliberately
    // not in the output.)
    "q228_image_roundtrip" -> Query((s, dir) => {
      val px = T(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(slice(embedding, 1, 16), " +
          "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))").as("pixels"))
      val media = graft.operators.Multimodal.asMedia(
        graft.operators.Multimodal.encodePng(px, "vec_id", "pixels",
          side = 4), "media_id", "media")
      val meta = graft.operators.Multimodal.decodeImageMeta(media)
      val feats = graft.operators.Multimodal.extractFeatures(media,
          dim = 16, codec = graft.operators.Multimodal.ImageIoCodec)
        .select(col("media_id"),
          expr("CAST(aggregate(feature, 0.0D, (a, x) -> " +
            "a + CAST(x AS DOUBLE)) AS BIGINT)").as("pix_sum"))
      meta.join(feats, Seq("media_id"))
        .select(col("media_id"), col("format"), col("width"),
          col("height"), col("pix_sum"))
        .orderBy(col("media_id"))
    },
      // lossless round trip: the decoded pixel sums are a pure function
      // of the quantized embeddings — no image library needed here
      """SELECT vec_id AS media_id, 'image/png' AS format,
        |  CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  CAST(list_sum(list_transform(embedding[1:16],
        |    v -> greatest(0, least(255,
        |      floor((CAST(v AS DOUBLE) + 1.0) * 127.5)))))
        |    AS BIGINT) AS pix_sum
        |FROM embeddings ORDER BY media_id""".stripMargin),

    // Bucketed co-located join — the pay-the-shuffle-ONCE layout for
    // a join run every day at corpus scale: both sides written
    // `bucketBy(8, custkey)` (bucket-sorted, one file per bucket), so
    // the revenue join reads co-located files and the plan's ONLY
    // exchange is the final segment aggregation (asserted in
    // PlanQualitySpec; the shuffle-free law itself in BucketingSpec).
    "q227_bucketed_colocated_join" -> Query((s, dir) => {
      val tdir = sys.props("java.io.tmpdir")
      def p(n: String) = new java.io.File(tdir, n).getAbsolutePath
      val o = T(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = T(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      graft.sources.Bucketing.writeBucketed(o, "graft_q227_orders",
        p("graft_q227_orders"), "custkey", 8)
      graft.sources.Bucketing.writeBucketed(c, "graft_q227_customer",
        p("graft_q227_customer"), "custkey", 8)
      graft.sources.Bucketing.bucketedEquiJoin(s,
          "graft_q227_orders", "graft_q227_customer", "custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },
      // the LAYOUT is the feature; the result is the plain join
      """SELECT c.c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o.o_totalprice), 2) AS revenue
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin),

    // q223 keyed: every source's ≥ 2%-of-its-occurrences tokens from
    // ONE groupBy(source).agg(MG) fold (k=64 counters per source) +
    // a (source, token) equi-join recount — the per-group dialect
    // profile without a per-source distinct-token shuffle.
    "q226_heavy_tokens_by_source" -> Query((s, dir) => {
      val tok = T(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("item"))
      graft.operators.HeavyHitters.frequentItemsBy(
          tok, "source", "item", k = 64, share = 50)
        .orderBy(col("key"), col("cnt").desc, col("item"))
    },
      s"""WITH t AS (SELECT source AS key, unnest($ToksSql) AS item
         |  FROM documents),
         |n AS (SELECT key, count(*) AS n FROM t GROUP BY key),
         |c AS (SELECT key, item, CAST(count(*) AS BIGINT) AS cnt FROM t
         |  GROUP BY key, item)
         |SELECT key, item, cnt FROM c JOIN n USING (key)
         |WHERE cnt >= (n.n + 49) // 50
         |ORDER BY key, cnt DESC, item""".stripMargin),

    // Capstone #17 — hybrid retrieval: the lexical (q224 BM25) and
    // dense (q22 cosine) top-20 lists for the same information need,
    // fused by reciprocal-rank (q137's device, k=60). Each branch is
    // its own bounded-work plan (postings equi-join / broadcast query
    // dot); fusion runs over ≤ 40 rows. The aligned doc_id/vec_id
    // space is the synthetic corpus's contract.
    "q225_hybrid_retrieval" -> Query((s, dir) => {
      val lex = graft.operators.SparseSimilarity.bm25TopK(
          T(s, dir, "documents"), "doc_id", "text",
          Seq("hash", "join", "column"), k = 20)
        .select(col("doc").as("doc_id"), col("score"))
      val dense = Similarity.neighborsOf(T(s, dir, "embeddings"),
          "vec_id", "embedding", queryId = 0L, k = 20)
        .select(col("vec_id").as("doc_id"),
          round(col("cos"), 4).as("score"))
      graft.operators.RankFusion.reciprocalRankFusion(
          Seq("bm25" -> lex, "dense" -> dense), "doc_id", k = 60)
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(15)
    },
      // hybrid replay: the q224 BM25 CTEs cut at 20, the q22 cosine cut
      // at 20 (raw-cosine order, rounded score), DuckDB rank() as the
      // competition rank, RRF at k=60 rounded 6
      s"""WITH tok AS (SELECT doc_id AS doc, unnest($ToksSql) AS tok
         |  FROM documents),
         |dl AS (SELECT doc, CAST(count(*) AS BIGINT) AS dl FROM tok
         |  GROUP BY doc),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  avg(dl) AS avgdl FROM dl),
         |qt AS (SELECT unnest(['hash', 'join', 'column']) AS tok),
         |p AS (SELECT t.doc, t.tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok t JOIN qt USING (tok) GROUP BY 1, 2),
         |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM p
         |  GROUP BY tok),
         |sc AS (SELECT p.doc, dl.dl,
         |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |    * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
         |    AS ts
         |  FROM p JOIN dft USING (tok) JOIN dl USING (doc), st),
         |lex AS (SELECT doc AS doc_id, round(sum(ts), 4) AS score
         |  FROM sc GROUP BY doc ORDER BY score DESC, doc LIMIT 20),
         |den AS (SELECT b.vec_id AS doc_id,
         |  round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
         |    CAST(a.embedding AS DOUBLE[])), 4) AS score
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id = 0 AND b.vec_id <> 0
         |  ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
         |    CAST(a.embedding AS DOUBLE[])) DESC, b.vec_id LIMIT 20),
         |u AS (SELECT doc_id, 'bm25' AS nm,
         |    rank() OVER (ORDER BY score DESC) AS r FROM lex
         |  UNION ALL SELECT doc_id, 'dense',
         |    rank() OVER (ORDER BY score DESC) FROM den),
         |f AS (SELECT doc_id,
         |  max(CASE WHEN nm = 'bm25' THEN r END) AS rank_bm25,
         |  max(CASE WHEN nm = 'dense' THEN r END) AS rank_dense,
         |  round(sum(1.0 / (60 + r)), 6) AS rrf
         |  FROM u GROUP BY doc_id)
         |SELECT doc_id, rank_bm25, rank_dense, rrf FROM f
         |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin),

    // Okapi BM25 top-10 for a fixed lexical query — the query→corpus
    // direction of the retrieval stack (q149 mines PAIRS; q199 is the
    // dense half; RankFusion q137 is how the two halves combine).
    // Only the query terms' postings are touched (broadcast qt
    // equi-join), df/N/avgdl from one pass, heap top-k.
    "q224_bm25_retrieval" -> Query((s, dir) =>
      graft.operators.SparseSimilarity.bm25TopK(
        T(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "column"), k = 10),
      // BM25 replay: same tokenizer fragment, identical left-assoc
      // expression trees (idf, saturation denominator), Lucene idf form;
      // avgdl is exact (integer-valued double sums below 2^53)
      s"""WITH tok AS (SELECT doc_id AS doc, unnest($ToksSql) AS tok
         |  FROM documents),
         |dl AS (SELECT doc, CAST(count(*) AS BIGINT) AS dl FROM tok
         |  GROUP BY doc),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  avg(dl) AS avgdl FROM dl),
         |qt AS (SELECT unnest(['hash', 'join', 'column']) AS tok),
         |p AS (SELECT t.doc, t.tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok t JOIN qt USING (tok) GROUP BY 1, 2),
         |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM p
         |  GROUP BY tok),
         |sc AS (SELECT p.doc, dl.dl,
         |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |    * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
         |    AS ts
         |  FROM p JOIN dft USING (tok) JOIN dl USING (doc), st)
         |SELECT doc, dl, CAST(count(*) AS BIGINT) AS n_hit_terms,
         |  round(sum(ts), 4) AS score
         |FROM sc GROUP BY doc, dl
         |ORDER BY score DESC, doc LIMIT 10""".stripMargin),

    // Heavy tokens by bounded-state Misra–Gries + exact second pass:
    // the MG superset guarantee (every item with count > n/(k+1)
    // survives any arrival order) makes "all tokens in ≥ 1% of
    // occurrences" deterministic from a k=200-counter fold + a
    // broadcast-candidate recount — never a full distinct-token
    // shuffle. The oracle is the plain GROUP BY the guarantee
    // promises to reproduce.
    "q223_heavy_tokens" -> Query((s, dir) => {
      val tok = T(s, dir, "documents")
        .select(explode(toks(col("text"))).as("item"))
      graft.operators.HeavyHitters.frequentItems(
          tok, "item", k = 200, share = 100)
        .orderBy(col("cnt").desc, col("item"))
    },
      // the MG two-pass device's whole point: its output IS this query
      s"""WITH tok AS (SELECT unnest($ToksSql) AS item FROM documents),
         |nn AS (SELECT count(*) AS n FROM tok),
         |c AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM tok
         |  GROUP BY item)
         |SELECT item, cnt FROM c, nn WHERE cnt >= (nn.n + 99) // 100
         |ORDER BY cnt DESC, item""".stripMargin),

    // q206's winsorized means on SKETCHED boundaries — the
    // baseline→production pairing (q89→q95, q150→q219) for percentile
    // cuts: lo/hi from the q220 bottom-k sample registers (k=64 ≪ the
    // ~3k-row groups, so the sketch path is what gates), clamp and
    // means exact for those boundaries. Registers build per shard and
    // merge; the boundary read touches k rows per group.
    "q222_winsorized_sketch" -> Query((s, dir) =>
      graft.operators.Robust.winsorizedProfileSketch(
          T(s, dir, "orders"), "o_orderpriority", "o_orderkey",
          "o_totalprice", pctLow = 5, pctHigh = 95, k = 64)
        .orderBy(col("grp")),
      HashOracles.q222WinsorizedSketch(64)),

    // Two-arm log-rank over the q197 KM design: same conversion
    // subjects, arms = deterministic user parity (swap in a real
    // assignment column unchanged — the q198 device). Per-arm KM
    // curves are q197's readout; this is the test statistic that says
    // whether the two curves differ beyond noise. One corpus-grain
    // aggregation; every window runs over the bounded
    // 2×distinct-durations grid.
    "q221_logrank" -> Query((s, dir) => {
      val subj = graft.operators.Survival.conversionSubjects(
        events(s, dir), "user_id", "ts", "event_id",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"),
        col("event_type") === "purchase", windowDays = 5)
      graft.operators.Survival.logRank(
        subj, "segment", "duration_days", "converted")
    },
      // log-rank replay: the q197 subject CTEs with parity arms, the
      // pooled-time grid for risk sets, hypergeometric terms with the
      // SAME left-assoc double expression tree as the Spark side, and
      // ΣE/ΣV as EXACT 1e-9-grid integer sums (order-free — an ordered
      // float running sum is NOT portable: DuckDB's window sum is a
      // pairwise segment tree, Spark's a sequential fold)
      """WITH pu AS (SELECT user_id, min(ts) AS t0,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tc
        |  FROM events GROUP BY user_id),
        |hz AS (SELECT CAST(max(ts) AS DATE) AS h FROM events),
        |subj AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even'
        |    ELSE 'odd' END AS arm,
        |    CASE WHEN dp IS NOT NULL AND dp <= 5 THEN dp
        |      ELSE least(5, obs) END AS dur,
        |    dp IS NOT NULL AND dp <= 5 AS ev
        |  FROM (SELECT user_id,
        |      CAST(date_diff('day', CAST(t0 AS DATE), CAST(tc AS DATE))
        |        AS BIGINT) AS dp,
        |      CAST(date_diff('day', CAST(t0 AS DATE), hz.h)
        |        AS BIGINT) AS obs FROM pu, hz) d),
        |bd AS (SELECT arm, dur AS t,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS rm
        |  FROM subj GROUP BY 1, 2),
        |tt AS (SELECT arm, CAST(sum(rm) AS BIGINT) AS tot
        |  FROM bd GROUP BY 1),
        |gr AS (SELECT a.arm, t.t FROM (SELECT DISTINCT arm FROM bd) a,
        |  (SELECT DISTINCT t FROM bd) t),
        |fl AS (SELECT gr.arm, gr.t, coalesce(bd.d, 0) AS d,
        |    coalesce(bd.rm, 0) AS rm
        |  FROM gr LEFT JOIN bd ON bd.arm = gr.arm AND bd.t = gr.t),
        |rk AS (SELECT fl.*, CAST(tt.tot - coalesce(sum(rm)
        |    OVER (PARTITION BY fl.arm ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n_risk
        |  FROM fl JOIN tt USING (arm)),
        |bt AS (SELECT t,
        |    CAST(sum(CASE WHEN arm = 'even' THEN d END) AS BIGINT)
        |      AS d_a,
        |    CAST(sum(CASE WHEN arm = 'odd' THEN d END) AS BIGINT)
        |      AS d_b,
        |    CAST(sum(CASE WHEN arm = 'even' THEN n_risk END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN arm = 'odd' THEN n_risk END) AS BIGINT)
        |      AS n_b
        |  FROM rk GROUP BY t),
        |ter AS (SELECT t, d_a, d_b,
        |    CAST(d_a + d_b AS DOUBLE) * n_a / (n_a + n_b) AS e_a,
        |    CAST(d_a + d_b AS DOUBLE) * n_a / (n_a + n_b) * n_b
        |      / (n_a + n_b) * ((n_a + n_b) - (d_a + d_b))
        |      / ((n_a + n_b) - 1) AS v
        |  FROM bt WHERE d_a + d_b > 0 AND n_a + n_b > 1),
        |sm0 AS (SELECT CAST(sum(d_a) AS BIGINT) AS oa,
        |    CAST(sum(d_b) AS BIGINT) AS ob,
        |    CAST(sum(CAST(floor(e_a * 1000000000.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS easc,
        |    CAST(sum(CAST(floor(v * 1000000000.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS vsc
        |  FROM ter),
        |sm AS (SELECT oa, ob,
        |    CAST(easc AS DOUBLE) / 1000000000.0 AS ea,
        |    CAST(vsc AS DOUBLE) / 1000000000.0 AS vv
        |  FROM sm0 WHERE oa IS NOT NULL),
        |nn AS (SELECT CAST(sum(CASE WHEN arm = 'even' THEN tot END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 'odd' THEN tot END) AS BIGINT)
        |      AS n_b FROM tt)
        |SELECT 'even' AS arm_a, 'odd' AS arm_b, nn.n_a, nn.n_b,
        |  oa AS o_a, ob AS o_b,
        |  round(ea, 4) AS e_a,
        |  CASE WHEN vv > 0 THEN round((oa - ea) / sqrt(vv), 4) END AS z,
        |  CASE WHEN vv > 0 THEN round((oa - ea) * (oa - ea) / vv, 4) END
        |    AS chi2
        |FROM sm, nn""".stripMargin),

    "q219_margin_mining_ivf" -> Query((s, dir) => {
      val e = T(s, dir, "embeddings")
      val cents = graft.operators.Clustering.kmeansCentroids(
        e, "vec_id", "embedding", k = 64, iters = 2)
      graft.operators.Similarity.marginTopMatchesVia(
          e, "vec_id", "embedding", k = 8, cents, nAssign = 6)
        .orderBy(col("x"))
    },
      HashOracles.q219MarginMiningIvf(64, 6, 8)),

    "q218_readability_profile" -> Query((s, dir) => {
      val tok = T(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("w"))
        .withColumn("runs", TF.vowelRuns(col("w")))
      tok.groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("runs")).cast("long").as("n_syllables"),
          sum(when(col("runs") >= 3, 1L).otherwise(0L)).as("n_poly"))
        .select(col("source"), col("n_words"), col("n_syllables"),
          round(col("n_syllables") / col("n_words").cast("double"), 4)
            .as("syll_per_word"),
          round(col("n_poly") / col("n_words").cast("double"), 4)
            .as("poly_frac"))
        .orderBy(col("source"))
    },
      s"""WITH w AS (SELECT source, unnest($ToksSql) AS w
         |  FROM documents),
         |r AS (SELECT source,
         |    len(regexp_split_to_array(w, '[aeiou]+')) - 1 AS runs
         |  FROM w)
         |SELECT source, count(*) AS n_words,
         |  CAST(sum(runs) AS BIGINT) AS n_syllables,
         |  round(sum(runs) / CAST(count(*) AS DOUBLE), 4)
         |    AS syll_per_word,
         |  round(sum(CASE WHEN runs >= 3 THEN 1 ELSE 0 END) /
         |    CAST(count(*) AS DOUBLE), 4) AS poly_frac
         |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // Second principal component via Hotelling deflation: C−λ·v·vᵀ on
    // the grid-pinned bounded table, then the same 8-round power
    // iteration; `ortho` (v₁·v₂, ≈0) rides along as the invariant.
    "q217_pca_second_component" -> Query((s, dir) => {
      val cov = graft.operators.Pca.covarianceMatrix(
        T(s, dir, "embeddings"), "embedding")
      val c1 = graft.operators.Pca.topComponent(cov, iters = 8)
      val c2 = graft.operators.Pca.topComponent(
        graft.operators.Pca.deflate(cov, c1), iters = 8)
      val ortho = c1.select(col("i"), col("loading").as("__l1"))
        .join(c2.select(col("i"), col("loading").as("__l2")), Seq("i"))
        .agg(round(sum(col("__l1") * col("__l2")), 4).as("ortho"))
      c2.crossJoin(broadcast(ortho))
        .select(col("i"), col("loading"), col("eigenvalue"),
          col("ortho"))
        .orderBy(col("i"))
    },
      (pcaWith(64, 8) +
      s""",
         |cov2 AS (SELECT c.i, c.j, round(c.cov -
         |    (SELECT nrm FROM n8) * la.loading * lb.loading, 8) AS cov
         |  FROM cov c JOIN ld la ON la.i = c.i
         |  JOIN ld lb ON lb.i = c.j),
         |${powerCtes("d", "cov2", 64, 8)},
         |ort AS (SELECT round(sum(a.loading * b.loading), 4) AS ortho
         |  FROM ld a JOIN dld b ON a.i = b.i)
         |SELECT CAST(d.i AS INTEGER) AS i, d.loading,
         |  (SELECT nrm FROM dn8) AS eigenvalue,
         |  o.ortho
         |FROM dld d, ort o ORDER BY d.i""".stripMargin)),

    "q210_editdist_linkage" -> Query((s, dir) => {
      val names = T(s, dir, "part").groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("nid"))
      graft.operators.RecordLinkage.editDistanceJoin(
          names.select(col("nid"), col("p_name")), "nid", "p_name",
          maxDist = 2)
        .select(col("a_id"), col("b_id"), col("a_str").as("a_name"),
          col("b_str").as("b_name"), col("dist").cast("long").as("dist"))
        .orderBy(col("a_id"), col("b_id"))
    },
      // independent quadratic implementation — proves the Spark side's
      // q-gram prefilter is exact, not just self-consistent
      """WITH nm AS (SELECT p_name, min(p_partkey) AS nid FROM part
        |  GROUP BY p_name)
        |SELECT a.nid AS a_id, b.nid AS b_id, a.p_name AS a_name,
        |  b.p_name AS b_name,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM nm a, nm b
        |WHERE a.nid < b.nid
        |  AND abs(len(a.p_name) - len(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY a_id, b_id""".stripMargin),

    // Pre-flight join diagnostics: the exact output cardinality and
    // hot-key share of a user-keyed event self-join — computed from
    // per-key count tables at |keys| grain, never by running the
    // join. The fan-out readout behind salting decisions (q41).
    "q211_join_cardinality" -> Query((s, dir) => {
      val ev = events(s, dir)
      SkewJoins.joinCardinalityProfile(ev, "user_id", ev, "user_id",
          topK = 5)
        .orderBy(col("rank"))
    },
      """WITH c AS (SELECT user_id AS key, count(*) AS n FROM events
        |  GROUP BY user_id),
        |p AS (SELECT key, n AS c_left, n AS c_right, n * n AS pairs
        |  FROM c),
        |t AS (SELECT CAST(sum(pairs) AS BIGINT) AS total_pairs FROM p),
        |r AS (SELECT *, CAST(row_number() OVER
        |    (ORDER BY pairs DESC, key) AS INTEGER) AS rank FROM p, t)
        |SELECT rank, key, c_left, c_right, pairs,
        |  round(pairs / CAST(total_pairs AS DOUBLE), 6) AS share,
        |  total_pairs
        |FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin),

    // KMV (bottom-k) distinct sketch per source over 3-gram shingles —
    // the mergeable distinct-count sketch that, unlike HLL, is a
    // SAMPLE (supports intersection estimates); k longs of state per
    // group, integer-exact replay, exact truth joined for the audit.
    "q212_kmv_distinct" -> Query((s, dir) => {
      val tok = T(s, dir, "documents")
        .select(col("source"), toks(col("text")).as("t"))
      val g = tok.select(col("source"),
        explode(TF.shinglesOf(col("t"), 3)).as("gram"))
      val est = graft.operators.Sketches.kmvEstimateBy(
        graft.operators.Sketches.kmvSketchBy(g, "source", "gram", 64),
        64)
      val truth = g.select(col("source").as("key"), col("gram"))
        .distinct()
        .groupBy(col("key")).agg(count(lit(1)).as("n_true"))
      est.join(truth, Seq("key")).orderBy(col("key"))
    },
      HashOracles.q212KmvDistinct(64)),

    // Welch's unequal-variance t on the q198 per-user experiment
    // metric: closed form from per-arm sums, Welch–Satterthwaite df.
    "q213_welch_ttest" -> Query((s, dir) =>
      graft.operators.Abtest.welchTTest(cupedUnits(s, dir), "arm", "y"),
      (CupedUnitsSql +
      """,
        |ar AS (SELECT arm, count(*) AS n, sum(y) AS sy,
        |    sum(y * y) AS syy FROM u GROUP BY arm),
        |ax AS (SELECT arm, n, sy / n AS m,
        |    ((syy - sy * sy / n) / (n - 1)) / n AS s2,
        |    row_number() OVER (ORDER BY arm) AS rk FROM ar)
        |SELECT a.arm AS arm_a, b.arm AS arm_b, a.n AS n_a, b.n AS n_b,
        |  round(a.m, 4) AS mean_a, round(b.m, 4) AS mean_b,
        |  round(a.m - b.m, 4) AS diff,
        |  round((a.m - b.m) / sqrt(a.s2 + b.s2), 4) AS t,
        |  round(pow(a.s2 + b.s2, 2) / (pow(a.s2, 2) / (a.n - 1) +
        |    pow(b.s2, 2) / (b.n - 1)), 4) AS df
        |FROM ax a, ax b WHERE a.rk = 1 AND b.rk = 2""".stripMargin)),

    // Mann–Whitney rank-sum on the same units: exact mid-ranks (the
    // q191 AUC device), tie-corrected normal z — the heavy-tail-safe
    // companion to q213.
    "q214_mann_whitney" -> Query((s, dir) =>
      graft.operators.Abtest.mannWhitney(cupedUnits(s, dir), "arm",
        "user_id", "y"),
      (CupedUnitsSql +
      """,
        |r AS (SELECT arm, CAST(row_number() OVER (ORDER BY y, user_id)
        |    AS DOUBLE) AS rn, y FROM u),
        |m AS (SELECT arm, avg(rn) OVER (PARTITION BY y) AS mid FROM r),
        |tg AS (SELECT y, count(*) AS t FROM r GROUP BY y),
        |tc AS (SELECT sum(t * t * t - t) AS tc, sum(t) AS n FROM tg),
        |ax AS (SELECT arm, count(*) AS n, sum(mid) AS rs FROM m
        |  GROUP BY arm),
        |ay AS (SELECT *, row_number() OVER (ORDER BY arm) AS rk FROM ax)
        |SELECT a.arm AS arm_a, b.arm AS arm_b, a.n AS n_a, b.n AS n_b,
        |  round(a.rs - CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) + 1)
        |    / 2, 4) AS u,
        |  round((a.rs - CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) + 1)
        |      / 2 - CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE) / 2) /
        |    sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE) / 12 *
        |      ((CAST(t.n AS DOUBLE) + 1) - CAST(t.tc AS DOUBLE) /
        |        (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1)))), 4)
        |    AS z
        |FROM ay a, ay b, tc t WHERE a.rk = 1 AND b.rk = 2""".stripMargin)),

    // KMV set-overlap matrix: per-pair union sketches estimate source
    // × source shared-3-gram counts from k longs per source — the
    // WHICH-elements capability HLL registers cannot express; exact
    // intersections joined for the audit. All joins at sketch grain.
    "q216_kmv_overlap" -> Query((s, dir) => {
      val tok = T(s, dir, "documents")
        .select(col("source"), toks(col("text")).as("t"))
      val g = tok.select(col("source"),
        explode(TF.shinglesOf(col("t"), 3)).as("gram"))
      val om = graft.operators.Sketches.kmvOverlapMatrix(
        graft.operators.Sketches.kmvSketchBy(g, "source", "gram", 64),
        64)
      val dg = g.select(col("source").as("key"), col("gram")).distinct()
      val truth = dg.as("a").join(dg.as("b"),
          col("a.gram") === col("b.gram") &&
            col("a.key") < col("b.key"))
        .groupBy(col("a.key").as("key_a"), col("b.key").as("key_b"))
        .agg(count(lit(1)).as("n_true_inter"))
      om.join(truth, Seq("key_a", "key_b"), "left")
        .na.fill(0L, Seq("n_true_inter"))
        .orderBy(col("key_a"), col("key_b"))
    },
      HashOracles.q216KmvOverlap(64)),

    // Capstone #16: the experiment readout end-to-end — CUPED
    // adjustment then Welch t on BOTH the raw and adjusted metric in
    // one row: the variance reduction shows up as |t_cuped| > |t_raw|
    // at identical means.
    "q215_experiment_readout" -> Query((s, dir) => {
      val adj = graft.operators.Abtest.cupedAdjust(
        cupedUnits(s, dir), "x", "y")
      val raw = graft.operators.Abtest.welchTTest(adj, "arm", "y")
        .select(col("arm_a"), col("arm_b"), col("n_a"), col("n_b"),
          col("diff").as("diff_raw"), col("t").as("t_raw"),
          col("df").as("df_raw"))
      val cup = graft.operators.Abtest.welchTTest(adj, "arm", "y_cuped")
        .select(col("arm_a"), col("arm_b"),
          col("diff").as("diff_cuped"), col("t").as("t_cuped"),
          col("df").as("df_cuped"))
      raw.join(cup, Seq("arm_a", "arm_b"))
    },
      (CupedUnitsSql +
      """,
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy FROM u),
        |ad AS (SELECT u.arm, u.y,
        |    u.y - round((st.sxy - st.sx * st.sy / st.n) /
        |        (st.sxx - st.sx * st.sx / st.n), 6) *
        |      (u.x - st.sx / st.n) AS ya
        |  FROM u, st),
        |ar AS (SELECT arm, count(*) AS n, sum(y) AS sy,
        |    sum(y * y) AS syy, sum(ya) AS sa, sum(ya * ya) AS saa
        |  FROM ad GROUP BY arm),
        |ax AS (SELECT arm, n, sy / n AS m,
        |    ((syy - sy * sy / n) / (n - 1)) / n AS s2,
        |    sa / n AS mc,
        |    ((saa - sa * sa / n) / (n - 1)) / n AS c2,
        |    row_number() OVER (ORDER BY arm) AS rk FROM ar)
        |SELECT a.arm AS arm_a, b.arm AS arm_b, a.n AS n_a, b.n AS n_b,
        |  round(a.m - b.m, 4) AS diff_raw,
        |  round((a.m - b.m) / sqrt(a.s2 + b.s2), 4) AS t_raw,
        |  round(pow(a.s2 + b.s2, 2) / (pow(a.s2, 2) / (a.n - 1) +
        |    pow(b.s2, 2) / (b.n - 1)), 4) AS df_raw,
        |  round(a.mc - b.mc, 4) AS diff_cuped,
        |  round((a.mc - b.mc) / sqrt(a.c2 + b.c2), 4) AS t_cuped,
        |  round(pow(a.c2 + b.c2, 2) / (pow(a.c2, 2) / (a.n - 1) +
        |    pow(b.c2, 2) / (b.n - 1)), 4) AS df_cuped
        |FROM ax a, ax b WHERE a.rk = 1 AND b.rk = 2""".stripMargin))
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  val oracleSql: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracleSql }
}
