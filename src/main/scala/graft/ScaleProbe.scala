package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev harness: empirical scaling probe for the corpus operators' scale
  * paths — id-shifted self-unions of the sf tables (the round-4 dedup
  * probe's device) swept over replica counts, each op timed WARM (one
  * untimed run first). The numbers back COVERAGE.md's sub-quadratic
  * claims with measurements, not just plan shapes.
  *
  * Usage: runMain graft.ScaleProbe [sfDir]
  *
  * What each sweep claims:
  *  - gramNovelty: first-seen map + join back are linear in corpus size
  *    (the gram table is the corpus's distinct grams — replicas add rows,
  *    not grams).
  *  - flagSpanDuplicated: the doc-level span verdict never materializes
  *    pairs (the df table already knows which spans are shared), so
  *    exact-duplicate replicas — the worst case for the PAIR form —
  *    leave it linear.
  *  - semanticDupPairs with nLists ∝ n: per-list size stays constant, so
  *    the Σ size² pair cost stays linear in the corpus — the SemDeDup
  *    paper's own k ~ √n scaling argument, measured.
  *  - encode (frozen merge list): map-only UDF projection — replicas
  *    scale linearly (measured essentially flat at probe sizes).
  *  - selectByAllocations: one (stratum, bucket) partial-agg shuffle +
  *    a window over one boundary bucket per stratum — linear, never a
  *    stratum-wide sort.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Harness.session()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").cache()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").cache()
    val nDocs = docs.count()
    val nVecs = emb.count()

    // r copies of `df` unioned, each with `key` shifted by 10M per copy
    def replicate(df: DataFrame, key: String)(r: Int): DataFrame =
      (0 until r).map(i => df.withColumn(key, col(key) + lit(i.toLong * 10_000_000L)))
        .reduce(_ unionAll _)
    val replicateDocs = replicate(docs, "doc_id") _
    val replicateVecs = replicate(emb, "vec_id") _

    // SPARK_GRAFT_PROBE_ONLY=bitext,xling runs only sweeps whose label
    // starts with a listed prefix — iterate one family without paying
    // the full battery
    val probeOnly = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def probeEnabled(label: String): Boolean =
      probeOnly.forall(_.exists(label.startsWith))
    def timeWarm(label: String, build: () => DataFrame): Unit = {
      if (!probeEnabled(label)) return
      CacheScope.scoped { build().count() } // warm: codegen + JIT
      val t0 = System.nanoTime()
      val n = CacheScope.scoped { build().count() }
      println(f"PROBE $label rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }

    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"novelty r=$r docs=${nDocs * r}", () =>
        operators.Novelty.gramNovelty(replicateDocs(r), "doc_id", "text",
          n = 3))
    }
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"span_flag r=$r docs=${nDocs * r}", () =>
        operators.SpanDedup.flagSpanDuplicated(replicateDocs(r),
          "doc_id", "text", spanTokens = 12))
    }
    Seq((1, 8), (2, 16), (4, 32)).foreach { case (r, lists) =>
      timeWarm(s"semantic r=$r vecs=${nVecs * r} nLists=$lists", () =>
        operators.Similarity.semanticDupPairs(replicateVecs(r),
          "vec_id", "embedding", threshold = 0.4, nLists = lists))
    }
    // margin mining via trained lists: nLists ∝ n keeps per-list
    // populations constant, so the candidate pair table (Σ size²)
    // grows linearly where the exact all-pairs baseline grows r² —
    // the same SemDeDup k ~ √n argument, now for the margin criterion
    Seq((1, 16), (2, 32), (4, 64)).foreach { case (r, lists) =>
      timeWarm(s"margin_via r=$r vecs=${nVecs * r} nLists=$lists", () => {
        val v = replicateVecs(r)
        val cents = operators.Clustering.kmeansCentroids(
          v, "vec_id", "embedding", lists, iters = 1)
        operators.Similarity.marginTopMatchesVia(
          v, "vec_id", "embedding", k = 8, cents, nAssign = 2)
      })
    }
    // encode: one UDF pass with a FROZEN merge list — map-only, so
    // replicas must scale linearly (the merge table rides in the
    // closure; no shuffle at all)
    val merges = operators.TokenizerTraining.trainMerges(
      docs, "doc_id", "text", rounds = 4, minCount = 2)
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"bpe_encode r=$r docs=${nDocs * r}", () =>
        operators.TokenizerTraining.encode(replicateDocs(r),
          "doc_id", "text", merges))
    }
    // n-gram LM scoring with a FROZEN (pre-materialized) LM: pair
    // explode + two un-hinted count-table joins + one doc aggregation —
    // linear in the scored corpus (the LM side is fixed)
    val lm = operators.NgramLm.train(docs, "doc_id", "text")
    lm.ngrams.persist().count()
    lm.contexts.persist().count()
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"ngram_lm r=$r docs=${nDocs * r}", () =>
        operators.NgramLm.logProbScore(replicateDocs(r), "doc_id", "text",
          lm))
    }
    lm.ngrams.unpersist()
    lm.contexts.unpersist()
    // grouped (per-language) LM scoring against a FROZEN grouped model:
    // the group key rides in the join keys and V arrives via the
    // group-bounded vocabs join — scoring must stay linear in the
    // scored corpus exactly like the ungrouped form, and the
    // perplexity-bucket cut must stay flat too (its windows run over
    // the (group, score-grid) histogram, never the corpus)
    val glm = operators.NgramLm.trainGrouped(
      docs.withColumn("lang",
        functions.TextFunctions.langId(col("text"))),
      "doc_id", "text", "lang")
    glm.ngrams.persist().count()
    glm.contexts.persist().count()
    glm.vocabs.persist().count()
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"grouped_lm_buckets r=$r docs=${nDocs * r}", () => {
        val scored = operators.NgramLm.logProbScoreGrouped(
          replicateDocs(r).withColumn("lang",
            functions.TextFunctions.langId(col("text"))),
          "doc_id", "text", "lang", glm)
        operators.NgramLm.perplexityBuckets(scored, "lang", "avg_lp")
      })
    }
    glm.ngrams.unpersist()
    glm.contexts.unpersist()
    glm.vocabs.unpersist()
    // selectByAllocations: one partial-agg shuffle for the (stratum,
    // bucket) facts + a window over ONE boundary bucket per stratum —
    // linear in the corpus, never a stratum-wide sort
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"waterfill_select r=$r docs=${nDocs * r}", () => {
        val d = replicateDocs(r)
          .withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(20L))))
          .withColumn("n_tok",
            size(functions.TextFunctions.tokens(col("text"))).cast("long"))
        val caps = d.groupBy(col("source"))
          .agg(sum(col("n_tok")).as("cap")).withColumn("w", lit(1.0))
        val alloc = operators.Mixture.waterfill(caps, "source", "cap",
          "w", budget = 15000.0 * r)
        operators.Mixture.selectByAllocations(d, "doc_id", "source",
          "n_tok", alloc)
      })
    }
    // epoch-repeat realization: the complete-epoch explode is bounded
    // by maxEpochs (a constant), so the epoched pick must stay in
    // selectByAllocations' linear cost class
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"epoch_select r=$r docs=${nDocs * r}", () => {
        val d = replicateDocs(r)
          .withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(20L))))
          .withColumn("n_tok",
            size(functions.TextFunctions.tokens(col("text"))).cast("long"))
        val caps = d.groupBy(col("source"))
          .agg(sum(col("n_tok")).as("cap"))
          .withColumn("w",
            when(col("source").isin("src0", "src1"), 5.0).otherwise(1.0))
        val alloc = operators.Mixture.waterfill(caps, "source", "cap",
          "w", budget = 15000.0 * r, maxEpochs = 3)
        operators.Mixture.selectByAllocationsEpochs(d, "doc_id", "source",
          "n_tok", alloc, maxEpochs = 3)
      })
    }
    // tile rewrite: exact-duplicate replicas are the WORST case (every
    // replica tile is a duplicate of replica 0's), yet cost must stay
    // linear — the per-tile first table grows with distinct tiles only
    // and the join carries each occurrence once
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"tile_rewrite r=$r docs=${nDocs * r}", () =>
        operators.SpanDedup.removeDuplicateTiles(replicateDocs(r),
          "doc_id", "text", tileTokens = 8))
    }
    // DSIR weights with a FIXED target: the llr table is bounded by the
    // bucket config, so scoring replicas is explode + broadcast join +
    // doc aggregation — linear
    val dsirTarget = docs.filter(col("doc_id") < 10)
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"dsir_weights r=$r docs=${nDocs * r}", () =>
        operators.Dsir.importanceWeights(replicateDocs(r), "doc_id",
          "text", dsirTarget, "text", numBuckets = 512))
    }
    // NB classifier scoring with a FROZEN model: one explode + one
    // un-hinted equi-join + doc aggregation — linear like the LM scorer
    val nbModel = operators.QualityClassifier.train(
      docs.withColumn("is_pos",
        functions.TextFunctions.langId(col("text")) === "en"),
      "doc_id", "text", "is_pos")
    nbModel.llr.persist().count()
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"nb_score r=$r docs=${nDocs * r}", () =>
        operators.QualityClassifier.score(replicateDocs(r), "doc_id",
          "text", nbModel))
    }
    nbModel.llr.unpersist()
    // sketches: build is one explode + a config-bounded cell/register
    // aggregation — linear in occurrences with CONSTANT output size
    // (the property that makes them the 100 TB answer)
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"countmin_build r=$r docs=${nDocs * r}", () => {
        val tok = replicateDocs(r).select(
          explode(functions.TextFunctions.tokens(col("text")))
            .as("token"))
        operators.Sketches.countMinBuild(tok, "token", depth = 4,
          width = 1024)
      })
    }
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"hll_registers r=$r docs=${nDocs * r}", () => {
        val tok = replicateDocs(r).select(
          explode(functions.TextFunctions.tokens(col("text")))
            .as("token"))
        operators.Sketches.hllRegisters(tok, "token", p = 6)
      })
    }
    // weighted sampling: map-only keys + TakeOrdered — linear scan,
    // constant result
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"weighted_sample r=$r docs=${nDocs * r}", () =>
        operators.Sampling.weightedSampleWithoutReplacement(
          replicateDocs(r).withColumn("w",
            (pmod(col("doc_id"), lit(97L)) + lit(1)).cast("double")),
          "doc_id", "w", k = 100))
    }
    // sequence packing: one tokenize-count pass + the two-level prefix
    // sum — the unpartitioned window sees only the bucket table, so
    // replicas scale the per-bucket windows (parallel) linearly
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"pack_sequences r=$r docs=${nDocs * r}", () =>
        operators.Packing.packSequences(replicateDocs(r), "doc_id",
          "text", seqLen = 512))
    }
    // log-hist quantile sketch: one bucketing aggregation with
    // CONSTANT output size (≤ maxBits+1 rows per group at any scale)
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"loghist_build r=$r docs=${nDocs * r}", () => {
        val v = replicateDocs(r).select(
          pmod(col("doc_id"), lit(20L)).cast("string").as("src"),
          size(functions.TextFunctions.tokens(col("text")))
            .cast("long").as("v"))
        operators.Sketches.logHistBuildBy(v, "src", "v")
      })

      timeWarm(s"gopher_signals r=$r docs=${nDocs * r}", () =>
        operators.Repetition.gopherSignals(
          replicateDocs(r), "doc_id", "text"))

      timeWarm(s"divergence r=$r docs=${nDocs * r}", () =>
        operators.Divergence.tokenDivergenceBy(
          replicateDocs(r).select(col("doc_id"),
            pmod(col("doc_id"), lit(20L)).cast("string").as("src"),
            col("text")),
          "src", "text"))

      timeWarm(s"balanced_shards r=$r docs=${nDocs * r}", () =>
        operators.Sharding.shardProfile(
          operators.Sharding.assignBalancedShards(
            replicateDocs(r).select(col("doc_id"),
              size(functions.TextFunctions.tokens(col("text")))
                .cast("long").as("w")),
            "doc_id", "w", nShards = 16),
          "w"))

      timeWarm(s"rank_fusion r=$r docs=${nDocs * r}", () => {
        val d = replicateDocs(r)
          .withColumn("n_chars", length(col("text")).cast("long"))
        operators.RankFusion.reciprocalRankFusion(Seq(
          "heur" -> d.select(col("doc_id"),
            functions.TextFunctions.qualityScore(col("text"),
              col("n_chars")).as("score")),
          "len" -> d.select(col("doc_id"),
            col("n_chars").cast("double").as("score"))),
          "doc_id")
      })
    }
    // ---- the event-analytics / classical-ML families ------------------
    // events replicas shift user_id, so per-user chains stay per-user:
    // replicas add USERS, the per-step joins stay key-local
    val ev = {
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val fixed = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
      fixed.select("event_id", "user_id", "event_type", "ts", "value")
        .cache()
    }
    val nEv = ev.count()
    val replicateEvents = replicate(ev, "user_id") _
    // funnel: k chained per-user min aggregations — linear in events
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"funnel r=$r events=${nEv * r}", () =>
        operators.Funnel.funnelSummary(replicateEvents(r), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase"),
          "24 hours"))
    }
    // bootstrap: the xR explode is map-side; the (group, rep) shuffle
    // is bounded by groups x reps — linear in rows
    Seq(1, 2, 4).foreach { r =>
      timeWarm(s"bootstrap_ci r=$r docs=${nDocs * r}", () =>
        operators.Bootstrap.poissonCiOfMean(
          replicateDocs(r).withColumn("source",
            concat(lit("s"), pmod(col("doc_id"), lit(20L))))
            .withColumn("v", length(col("text")).cast("long")),
          "source", "doc_id", "v", reps = 50))
    }
    // logistic scoring with a FROZEN model: explode + broadcast weight
    // join + doc aggregation — the NB-scorer cost class
    val lrModel = operators.QualityClassifier.trainLogistic(
      docs.withColumn("is_pos",
        functions.TextFunctions.langId(col("text")) === "en"),
      "doc_id", "text", "is_pos", numBuckets = 64, epochs = 2)
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"logistic_score r=$r docs=${nDocs * r}", () =>
        operators.QualityClassifier.scoreLogistic(replicateDocs(r),
          "doc_id", "text", lrModel))
    }
    // greedy encode with a FROZEN substring vocab: map-only UDF pass
    val gvocab = operators.TokenizerTraining.greedySubstringVocab(
      docs, "text", Seq(2 -> 50, 3 -> 25))
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"greedy_encode r=$r docs=${nDocs * r}", () =>
        operators.TokenizerTraining.greedyEncode(replicateDocs(r),
          "doc_id", "text", gvocab, maxPieceLen = 3))
    }
    // quantile normalization: the pooled zipWithIndex sort dominates —
    // n log n, never a single-partition window
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"quantile_norm r=$r docs=${nDocs * r}", () =>
        operators.Normalize.quantileNormalize(
          replicateDocs(r).withColumn("source",
            concat(lit("s"), pmod(col("doc_id"), lit(20L))))
            .withColumn("v", length(col("text")).cast("long")),
          "source", "doc_id", "v"))
    }
    // prefix-filtered exact Jaccard join: candidates are an equi-join
    // on prefix shingles — EXACT-duplicate replicas are its worst case
    // (every replica pair is a true pair), so the pair OUTPUT grows
    // r²·dups, but the candidate-generation stays gram-bounded; probe
    // at τ high enough that output stays near the true-dup set
    Seq(1, 2, 4).foreach { r =>
      timeWarm(s"prefix_jaccard r=$r docs=${nDocs * r}", () =>
        operators.SetSimJoin.jaccardJoin(replicateDocs(r), "doc_id",
          "text", tauMicros = 950000L, n = 5))
    }
    // PCA covariance: one corpus pass to a d²-bounded table — replicas
    // must scale linearly, the cell table never grows
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"pca_cov r=$r vecs=${nVecs * r}", () =>
        operators.Pca.covarianceMatrix(replicateVecs(r), "embedding"))
    }
    // KMV sketch: distinct + one per-key window; output is k rows per
    // key at ANY corpus size
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"kmv r=$r docs=${nDocs * r}", () =>
        operators.Sketches.kmvSketchBy(
          replicateDocs(r).withColumn("source",
            concat(lit("s"), pmod(col("doc_id"), lit(20L))))
            .select(col("source"),
              explode(functions.TextFunctions.tokens(col("text")))
                .as("tok")),
          "source", "tok", 64))
    }
    // quantile-sample registers: one corpus-grain keyed window; the
    // register table is k rows per key at ANY corpus size, and the
    // readout runs over it alone — replicas must scale linearly
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"quantile_sample r=$r docs=${nDocs * r}", () =>
        operators.QuantileSketch.sampleQuantilesBy(
          operators.QuantileSketch.sampleRegistersBy(
            replicateDocs(r).withColumn("source",
              concat(lit("s"), pmod(col("doc_id"), lit(20L))))
              .withColumn("n_chars", length(col("text")).cast("long")),
            "source", "doc_id", "n_chars", 256),
          Seq(50, 90, 99)))
    }
    // KLL via groupBy.agg: partial aggregation map-side — the shuffle
    // carries one buffer per (partition, key), never rows
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"kll r=$r docs=${nDocs * r}", () =>
        operators.QuantileSketch.kllQuantilesBy(
          replicateDocs(r).withColumn("source",
            concat(lit("s"), pmod(col("doc_id"), lit(20L))))
            .withColumn("n_chars", length(col("text")).cast("long")),
          "source", "n_chars", 128, Seq(50, 90, 99)))
    }
    // Bradley–Terry: contests collapse ONCE to the bounded directed
    // pair table; the MM rounds never touch the corpus again —
    // replicas must scale linearly however many rounds run
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"bradley_terry r=$r docs=${nDocs * r}", () =>
        operators.Preference.bradleyTerry(
          replicateDocs(r).select(
            concat(lit("w"), pmod(col("doc_id"), lit(7L))).as("winner"),
            concat(lit("l"), pmod(col("doc_id") * 31L, lit(7L)))
              .as("loser")),
          "winner", "loser", rounds = 5))
    }
    // Cohen kappa: the corpus collapses to the k×k confusion table in
    // one aggregation; everything after is bounded-table integer
    // algebra — linear in replicas
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"cohen_kappa r=$r docs=${nDocs * r}", () =>
        operators.Agreement.cohenKappa(
          replicateDocs(r)
            .withColumn("ra", concat(lit("b"),
              pmod(length(col("text")), lit(3L))))
            .withColumn("rb", concat(lit("b"),
              pmod(length(col("text")) + col("doc_id") % 2L, lit(3L)))),
          "ra", "rb"))
    }
    // PII profile: one corpus pass whatever the column × pattern
    // count (cells explode per row, one aggregation) — linear
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"pii_profile r=$r docs=${nDocs * r}", () =>
        operators.PiiProfile.profile(
          replicateDocs(r).withColumn("text2", col("text")),
          Seq("text", "text2")))
    }
    // seasonal decomposition: keyed RANGE windows + one slot-grain
    // aggregation — linear in replicas (keys scale, windows stay
    // per-key)
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"seasonal_decompose r=$r docs=${nDocs * r}", () =>
        operators.Seasonal.decompose(
          replicateDocs(r)
            .withColumn("k", pmod(col("doc_id"), lit(40L)))
            .withColumn("t", pmod(col("doc_id") * 17L, lit(365L)))
            .withColumn("y", (length(col("text")) % 1000).cast("double")),
          "k", "t", "y", period = 7, scale = 0))
    }
    // SPRT: one groupBy collects each key's walk; the fold runs in
    // codegen — linear in replicas
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"sprt r=$r docs=${nDocs * r}", () =>
        operators.Abtest.sprt(
          replicateDocs(r)
            .withColumn("k", pmod(col("doc_id"), lit(40L)))
            .withColumn("ok", length(col("text")) % 2L === 0L),
          "k", "doc_id", "ok", 0.45, 0.55, 0.05, 0.05))
    }
    // rank matching: two keyed rank windows + one (strata, rank)
    // equi-join — linear in replicas, strata parallel
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"rank_matching r=$r docs=${nDocs * r}", () =>
        operators.Matching.rankMatchAtt(
          replicateDocs(r)
            .withColumn("st", pmod(col("doc_id"), lit(20L)))
            .withColumn("tr", col("doc_id") % 2L === 0L)
            .withColumn("sc", (length(col("text")) % 997).cast("double"))
            .withColumn("y", (length(col("text")) % 1000).cast("double")),
          "st", "tr", "sc", "doc_id", "y", scale = 0))
    }
    // centroid silhouette: map-only over the k-row centroid literal —
    // linear in replicas, no pair join at any size
    val silCents = operators.Clustering.kmeansCentroids(emb, "vec_id",
      "embedding", k = 8, iters = 1)
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"silhouette r=$r vecs=${nVecs * r}", () =>
        operators.Clustering.centroidSilhouette(replicateVecs(r),
          "vec_id", "embedding", silCents))
    }
    // cross-lingual exact dedup: ONE hash aggregation on the folded
    // fingerprint — replicas multiply cluster sizes, not plan shape;
    // must scale linearly
    def langOf = pmod(col("doc_id"), lit(5L)).cast("string")
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"xling_clusters r=$r docs=${nDocs * r}", () =>
        operators.CrossLingual.crossLingualClusters(
          replicateDocs(r).withColumn("lang", langOf),
          "doc_id", "text", "lang"))
    }
    // cross-lingual near-dup: candidates are a band equi-join; exact
    // replicas are the WORST case (every copy bands together, so the
    // verified pair table grows with true duplicate mass ~ r² per
    // cluster — inherent to pair emission, not a plan defect); the
    // probe documents that the non-dup corpus cost stays linear
    Seq(1, 2, 4).foreach { r =>
      timeWarm(s"xling_neardup r=$r docs=${nDocs * r}", () =>
        operators.CrossLingual.crossLingualNearDupPairs(
          replicateDocs(r).withColumn("lang", langOf),
          "doc_id", "text", "lang", threshold = 0.8))
    }
    // page-hinkley: one partial-agg shuffle to (key, series) + an
    // O(1)-state sequential fold per key — linear in rows at fixed
    // key count, and the state never grows with series length
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"page_hinkley r=$r rows=${nDocs * r}", () =>
        operators.Robust.pageHinkley(
          replicateDocs(r)
            .withColumn("k", pmod(col("doc_id"), lit(50L)))
            .withColumn("t", col("doc_id"))
            .withColumn("x", (length(col("text")) % 100).cast("double")),
          "k", "t", "x"))
    }
    // language budget mix: token-count projection + 5-row broadcast
    // + ONE keyed window — linear, the per-language sort is the only
    // shuffle beyond the token aggregate
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"lang_budget_mix r=$r docs=${nDocs * r}", () =>
        operators.Mixture.languageBudgetMix(
          replicateDocs(r).withColumn("lang", langOf),
          "doc_id", "text", "lang", budgetTokens = 100000L,
          alpha = 0.3))
    }
    // bitext mining, brute vs trained-IVF: the brute pair table is n²
    // BY DESIGN (the bounded-eval contract) — probed only to put its
    // quadratic curve on record next to the scale path. The via form
    // meets candidates in trained lists (equi-join) with the
    // cross-group filter pruning before the distinct; nLists ∝ n keeps
    // the MEAN per-list population constant (the SemDeDup k ~ √n-style
    // argument), so its curve stays ~linear while brute grows ~r².
    def grpOf = pmod(col("vec_id"), lit(5L)).cast("string")
    Seq(1, 2, 4).foreach { r =>
      timeWarm(s"bitext_brute r=$r vecs=${nVecs * r}", () =>
        operators.Similarity.bitextTopMatches(
          replicateVecs(r).withColumn("grp", grpOf),
          "vec_id", "embedding", "grp", k = 8))
    }
    Seq(1, 2, 4, 8).foreach { r =>
      if (probeEnabled("bitext_ivf")) { // centroid setup is itself heavy
        val cents = operators.Clustering.kmeansCentroids(
          replicateVecs(r), "vec_id", "embedding", k = 16 * r, iters = 1)
        timeWarm(s"bitext_ivf r=$r vecs=${nVecs * r} lists=${16 * r}",
          () => operators.Similarity.bitextTopMatchesVia(
            replicateVecs(r).withColumn("grp", grpOf),
            "vec_id", "embedding", "grp", k = 8, cents, nAssign = 2))
      }
    }
    // cross-lingual SEMANTIC dedup (trained-list SemDeDup candidates
    // + language filter): lists ∝ n keeps mean per-list population
    // constant, so the verified-pair stage stays ~linear; exact
    // replicas again plant r² true-dup mass per list (the documented
    // pair-emission worst case, same as xling_neardup)
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("xling_semantic")) {
        val cents = operators.Clustering.kmeansCentroids(
          replicateVecs(r), "vec_id", "embedding", k = 8 * r, iters = 1)
        timeWarm(s"xling_semantic r=$r vecs=${nVecs * r} lists=${8 * r}",
          () => operators.CrossLingual.embeddingDupPairs(
            replicateVecs(r).withColumn("lang", grpOf),
            "vec_id", "embedding", "lang", threshold = 0.4, cents,
            nAssign = 2))
      }
    }
    // round-15 script-aware fingerprint: one hash aggregation —
    // exact replicas multiply cluster SIZES, not the shuffle key
    // space, so the cluster table stays bounded by distinct content
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("scripted_fp")) {
        timeWarm(s"scripted_fp r=$r docs=${nDocs * r}",
          () => operators.CrossLingual.scriptAwareClusters(
            replicateDocs(r).withColumn("lang",
              pmod(col("doc_id"), lit(5L)).cast("string")),
            "doc_id", "text", "lang"))
      }
    }
    // round-15 percent-normalized URL key: the canonical key is one
    // map-only Column program (split/transform/join + regexes) into
    // one hash aggregation — linear by construction, measured so the
    // percent fold's split-transform doesn't hide a blowup
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("url_percent")) {
        timeWarm(s"url_percent r=$r docs=${nDocs * r}",
          () => replicateDocs(r)
            .withColumn("url", concat(lit("https://h"),
              pmod(col("doc_id"), lit(97L)),
              lit(".example.org/%7Eu"), expr("doc_id div 7"),
              lit("/docs?x=%41%2f&utm_source=z")))
            .groupBy(graft.functions.Urls.canonicalize(col("url"))
              .as("curl"))
            .agg(count(lit(1)).as("n")))
      }
    }
    // per-host cap (round-16): ONE window keyed by host — cost is the
    // hash shuffle + per-host sort, ~linear in rows at fixed host
    // arity (the worst realistic case: hosts don't grow with the
    // crawl nearly as fast as pages do)
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("host_cap")) {
        timeWarm(s"host_cap r=$r docs=${nDocs * r}",
          () => operators.UrlDedup.capPerHost(
            replicateDocs(r)
              .withColumn("host", concat(lit("h"),
                pmod(col("doc_id"), lit(97L))))
              .withColumn("score", length(col("text")).cast("long")),
            "doc_id", "host", "score", maxPerHost = 10))
      }
    }
    // duplicated-line removal (round-16): line explode + (line, df)
    // partial-agg shuffle + un-hinted join back + doc-grain rebuild —
    // all keyed, must stay ~linear in corpus rows
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("line_dedup")) {
        timeWarm(s"line_dedup r=$r docs=${nDocs * r}",
          () => operators.Boilerplate.removeDuplicatedLines(
            replicateDocs(r).withColumn("text",
              concat(lit("shared header "), pmod(col("doc_id"),
                lit(3L)), lit("\n"), col("text"), lit("\nshared " +
                "footer "), pmod(col("doc_id"), lit(3L)))),
            "doc_id", "text", maxDf = 5))
      }
    }
    // Wasserstein-1 drift (round-16): one histogram shuffle, then
    // windows over the bounded (groups × values) register only —
    // corpus growth pays the histogram pass, the register stays the
    // same size, so the sweep must flatten toward the scan cost
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("wasserstein")) {
        timeWarm(s"wasserstein r=$r docs=${nDocs * r}",
          () => operators.Divergence.wasserstein1By(
            replicateDocs(r).select(
              pmod(col("doc_id"), lit(20L)).cast("string").as("g"),
              (length(col("text")) % 512).cast("long").as("v")),
            "g", "v"))
      }
    }
    // round-15 persisted-index bitext probe (lists ∝ n): the index
    // write is the one-off corpus build; the RECURRING cost is the
    // probe — one nearest-list explode + equi-join against the list
    // scan + keyed margin windows, which must stay ~linear as corpus
    // and index grow together
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("bitext_probe")) {
        val en = replicateVecs(r).filter(col("vec_id") % 2 === 0)
        val cents = operators.Clustering.kmeansCentroids(
          en, "vec_id", "embedding", k = 8 * r, iters = 1)
        val path = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_probe_bitext_ivf_$r").getAbsolutePath
        operators.Similarity.writeIvfIndex(en, "vec_id", "embedding",
          path, cents)
        timeWarm(s"bitext_probe r=$r lists=${8 * r}",
          () => operators.Similarity.bitextProbeIndexed(spark, path,
            replicateVecs(r).filter(col("vec_id") % 2 === 1),
            "vec_id", "embedding", k = 8, nAssign = 2))
      }
    }
    // the pruning law, isolated (round-16): the index GROWS (rows
    // and lists ∝ r) while the delta batch stays FIXED — with the
    // literal list_id isin pushed by bitextProbeIndexed the scan
    // lists/reads only the probed directories, so probe cost must
    // stay ~flat as the index scales (the "only the probed lists"
    // promise as a measurement, beside the wave-7 plan assert)
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("bitext_probe_fixed")) {
        val en = replicateVecs(r).filter(col("vec_id") % 2 === 0)
        val cents = operators.Clustering.kmeansCentroids(
          en, "vec_id", "embedding", k = 8 * r, iters = 1)
        val path = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_probe_bitext_fix_$r").getAbsolutePath
        operators.Similarity.writeIvfIndex(en, "vec_id", "embedding",
          path, cents)
        timeWarm(s"bitext_probe_fixed r=$r lists=${8 * r}",
          () => operators.Similarity.bitextProbeIndexed(spark, path,
            replicateVecs(1).filter(col("vec_id") % 2 === 1),
            "vec_id", "embedding", k = 8, nAssign = 2))
      }
    }
    // trained langid: train = one (gram, lang) count shuffle (the
    // count table grows with DISTINCT grams, sublinear on replicated
    // text), predict = one explode + equi-join + (doc, class) agg —
    // both must stay ~linear in corpus rows
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("langid_train")) {
        val docs = replicateDocs(r).withColumn("lang",
          pmod(col("doc_id"), lit(5L)).cast("string"))
        timeWarm(s"langid_train r=$r docs=${nDocs * r}", () => {
          val m = operators.TrainedLangId.train(docs, "text", "lang")
          operators.TrainedLangId.predict(docs, "doc_id", "text", m)
        })
      }
    }
    // cross-modal contamination probe (round-16): probe set FIXED,
    // training corpus grows ∝ r — the banded equi-join's cost is the
    // probe's bucket fan-out times matching corpus buckets, so the
    // sweep must stay ~linear in corpus rows (hash cost) and never
    // pair-quadratic
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("xmodal_probe")) {
        def px(df: DataFrame) = df.select(col("vec_id"),
          expr("transform(embedding, " +
            "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))")
            .as("pixels"))
        def hash(df: DataFrame) = operators.MediaDedup.averageHash(
          operators.Multimodal.asMedia(
            operators.Multimodal.encodePng(px(df), "vec_id",
              "pixels", side = 8), "media_id", "media"))
        timeWarm(s"xmodal_probe r=$r corpus=${nVecs * r}", () =>
          operators.MediaDedup.crossNearDupBest(
            hash(emb.limit(200).select(
              (col("vec_id") + lit(900000000L)).as("vec_id"),
              col("embedding"))),
            hash(replicateVecs(r)), maxHamming = 3))
      }
    }
    // layout profile: one decoder pass per partition, rows ∝ image
    // rows — strictly linear
    Seq(1, 2, 4, 8).foreach { r =>
      if (probeEnabled("layout_ink")) {
        val px = replicateVecs(r).select(col("vec_id"),
          expr("transform(embedding, " +
            "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))")
            .as("pixels"))
        timeWarm(s"layout_ink r=$r imgs=${nVecs * r}", () =>
          operators.Multimodal.rowInkProfile(
            operators.Multimodal.asMedia(
              operators.Multimodal.encodePng(px, "vec_id", "pixels",
                side = 8), "media_id", "media")))
      }
    }
    // mahalanobis: ONE aggregation to a single moment row + a
    // map-only d² projection — strictly linear at any feature scale
    Seq(1, 2, 4, 8).foreach { r =>
      timeWarm(s"mahalanobis r=$r docs=${nDocs * r}", () =>
        operators.Robust.mahalanobis3(
          replicateDocs(r)
            .withColumn("f1", (length(col("text")) % 97).cast("long"))
            .withColumn("f2", (col("doc_id") % 1003).cast("long"))
            .withColumn("f3",
              (length(col("text")) % 31 + col("doc_id") % 7)
                .cast("long")),
          "doc_id", "f1", "f2", "f3"))
    }
    // k-center greedy: k rounds, each one map vs the center literal +
    // a TakeOrdered(1) — cost = k · (linear pass), so fixed k over r×
    // rows must scale ~linearly
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("kcenter")) {
        timeWarm(s"kcenter r=$r vecs=${nVecs * r} k=8", () =>
          operators.Coreset.kCenterGreedy(replicateVecs(r), "vec_id",
            "embedding", k = 8))
      }
    }
    // prototype prune: map-only assignment + ONE keyed rank window —
    // linear in rows at fixed k
    Seq(1, 2, 4, 8).foreach { r =>
      if (probeEnabled("proto_prune")) {
        val cents = operators.Clustering.kmeansCentroids(
          replicateVecs(r), "vec_id", "embedding", k = 4, iters = 1)
        timeWarm(s"proto_prune r=$r vecs=${nVecs * r}", () =>
          operators.Clustering.pruneEasiest(replicateVecs(r), "vec_id",
            "embedding", cents, keepPct = 50))
      }
    }
    // Kneser-Ney: train = one bigram TYPE count shuffle (replicated
    // text adds occurrences, not types — sublinear), score = explode
    // + three equi-joins — ~linear in corpus rows
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("kn_lm")) {
        timeWarm(s"kn_lm r=$r docs=${nDocs * r}", () => {
          val docs = replicateDocs(r)
          val lm = operators.NgramLm.trainKn(docs, "doc_id", "text")
          operators.NgramLm.knLogProbScore(docs, "doc_id", "text", lm)
        })
      }
    }
    // dHash / pHash: one decode+pool pass per partition then the
    // banded equi-join — linear hash cost, pair cost bounded by
    // bands (pHash adds the fixed 64x64 DCT per image — still
    // per-row constant work)
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("dhash") || probeEnabled("phash")) {
        val px = replicateVecs(r).select(col("vec_id"),
          expr("transform(embedding, " +
            "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))")
            .as("pixels"))
        def media() = operators.Multimodal.asMedia(
          operators.Multimodal.encodePng(px, "vec_id", "pixels",
            side = 8), "media_id", "media")
        if (probeEnabled("dhash"))
          timeWarm(s"dhash r=$r imgs=${nVecs * r}", () =>
            operators.MediaDedup.nearDupPairs(
              operators.MediaDedup.differenceHash(media()),
              maxHamming = 3))
        if (probeEnabled("phash"))
          timeWarm(s"phash r=$r imgs=${nVecs * r}", () =>
            operators.MediaDedup.nearDupPairs(
              operators.MediaDedup.perceptualHash(media()),
              maxHamming = 3))
      }
    }
    // grouped k-center: k rounds, each ONE distributed job for all
    // groups (per-group CASE map + one keyed window) — linear in
    // rows at fixed k and group count
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("kcenter_grouped")) {
        timeWarm(s"kcenter_grouped r=$r vecs=${nVecs * r} k=4", () =>
          operators.Coreset.kCenterGreedyGrouped(
            replicateVecs(r).withColumn("label",
              pmod(col("vec_id"), lit(10L))),
            "vec_id", "embedding", "label", k = 4))
      }
    }
    // one-way ANOVA / Brown-Forsythe: anova is ONE partial-agg pass
    // to the k-row arm table (pure linear); BF adds the per-arm
    // median rank window (sort cost within arms)
    Seq(1, 2, 4, 8).foreach { r =>
      if (probeEnabled("anova")) {
        val ev = replicateEvents(r)
        timeWarm(s"anova r=$r events=n*$r", () =>
          operators.Abtest.anovaF(ev, "event_type", "event_id",
            "value", scale = 2))
        timeWarm(s"brown_forsythe r=$r events=n*$r", () =>
          operators.Abtest.brownForsythe(ev, "event_type", "event_id",
            "value", scale = 2))
      }
    }
    // correlogram: the series is an AGGREGATED grain (days), so
    // replication grows per-day sums, not series length — probe with
    // a longer synthetic series instead (hour grain x r) to see the
    // position-join cost grow with series length
    Seq(1, 2, 4, 8).foreach { r =>
      if (probeEnabled("acf")) {
        val series = replicateEvents(r)
          .groupBy((col("event_id") % lit(2000L * r)).as("t"))
          .agg(round(sum(col("value")), 2).as("y"))
        timeWarm(s"acf r=$r points=${2000 * r}", () =>
          operators.Seasonal.autocorrelation(series, "t", "y",
            maxLag = 10, scale = 2))
      }
    }
    // URL canonicalization dedup: map-only key derivation + one hash
    // aggregation — strictly linear
    Seq(1, 2, 4, 8).foreach { r =>
      if (probeEnabled("url_dedup")) {
        val urls = replicateDocs(r).select(col("doc_id"),
          concat(lit("HTTPS://WWW.h"), col("doc_id") % 97,
            lit(".example.org:443/d/"), expr("doc_id div 3"),
            lit("/?b=2&utm_source=x&a=1")).as("url"))
        timeWarm(s"url_dedup r=$r docs=${nDocs * r}", () =>
          urls.groupBy(graft.functions.Urls.canonicalize(col("url"))
              .as("canonical_url"))
            .agg(count(lit(1)).as("n_docs")))
      }
    }
    // JL projection: map-only d*d' multiply-adds per row — linear;
    // the distortion probe adds the consecutive-id equi-join
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("jl_project")) {
        timeWarm(s"jl_project r=$r vecs=${nVecs * r}", () =>
          operators.RandomProjection.projectSigned(replicateVecs(r),
            "embedding", dIn = 64, dOut = 16))
      }
    }
    // incremental URL dedup: index build = one hash agg, probe = one
    // equi-join — both linear, the index side amortized across crawls
    Seq(1, 2, 4, 8).foreach { r =>
      if (probeEnabled("url_incr")) {
        val urls = replicateDocs(r).select(col("doc_id"),
          concat(lit("https://h"), col("doc_id") % 97,
            lit(".example.org/d/"), expr("doc_id div 3"),
            lit("?a=1&b=2")).as("url"))
        timeWarm(s"url_incr r=$r docs=${nDocs * r}", () =>
          operators.UrlDedup.flagIncremental(
            urls.filter(col("doc_id") % 2 === 1),
            urls.filter(col("doc_id") % 2 === 0), "doc_id", "url"))
      }
    }
    // Welch ANOVA / pairwise posthoc: one partial-agg pass + bounded
    // folds / the k²-bounded pair join — flat like anova
    Seq(1, 2, 4, 8).foreach { r =>
      if (probeEnabled("welch")) {
        val ev = replicateEvents(r)
        timeWarm(s"welch_anova r=$r events=n*$r", () =>
          operators.Abtest.welchAnova(ev, "event_type", "event_id",
            "value", scale = 2))
        timeWarm(s"welch_pairwise r=$r events=n*$r", () =>
          operators.Abtest.pairwiseWelch(ev, "event_type", "value",
            scale = 2))
      }
    }
    // periodogram: fixed nWindow rows regardless of corpus size —
    // the probe grows the WINDOW (the real cost axis: n·K fold terms)
    Seq(64, 128, 256, 512).foreach { nw =>
      if (probeEnabled("periodogram")) {
        val series = replicateEvents(1)
          .groupBy((col("event_id") % lit(nw.toLong)).as("t"))
          .agg(round(sum(col("value")), 2).as("y"))
        timeWarm(s"periodogram n=$nw k=16", () =>
          operators.Seasonal.periodogram(series, "t", "y",
            nWindow = nw, maxFreq = 16, scale = 2))
      }
    }
    // Cochran's Q / seasonal strength: one grid completion + two
    // aggregations / the keyed decompose chain — linear in rows
    Seq(1, 2, 4, 8).foreach { r =>
      if (probeEnabled("cochran")) {
        val bx = replicateEvents(r)
          .groupBy(col("user_id"), col("event_type"))
          .agg((count(lit(1)) >= 2L).cast("long").as("x"))
        timeWarm(s"cochran r=$r events=n*$r", () =>
          operators.Abtest.cochranQ(bx, "user_id", "event_type", "x"))
      }
    }
    // image quality stats: one decode+pool mapPartitions pass,
    // constant per-image work — linear like the hash probes
    Seq(1, 2, 4).foreach { r =>
      if (probeEnabled("img_quality")) {
        val px = replicateVecs(r).select(col("vec_id"),
          expr("transform(embedding, " +
            "v -> floor((CAST(v AS DOUBLE) + 1.0) * 127.5))")
            .as("pixels"))
        timeWarm(s"img_quality r=$r imgs=${nVecs * r}", () =>
          operators.Multimodal.imageQualityStats(
            operators.Multimodal.asMedia(
              operators.Multimodal.encodePng(px, "vec_id", "pixels",
                side = 8), "media_id", "media")))
      }
    }
    spark.stop()
  }
}
