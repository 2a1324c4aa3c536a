package graft.streaming

import graft.operators.{Clustering, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming embedding near-dup / semantic-contamination checks: a vector
  * STREAM matched against a persisted IVF index
  * ([[Similarity.writeIvfIndex]]) — the embedding-space half of the
  * stream-static incremental story [[DedupStream.indexCollisions]] tells
  * for MinHash: yesterday's corpus is indexed once; today's vectors are
  * flagged the moment they arrive.
  *
  * Plan shape: the arriving vector is assigned to its nearest centroid
  * map-only (the k×dim sidecar matrix travels as a literal — no join, no
  * state), then a STREAM-STATIC equi-join on `list_id` scores cosine
  * against that list's vectors only. Completely stateless — no watermark
  * needed for correctness; per-batch cost is the micro-batch size times
  * its probed list sizes, never the index size. NOTE on index rebuilds:
  * the static side's file listing (and the centroid sidecar read here)
  * are captured ONCE at query start — an in-place overwrite rebuild
  * leaves the running query reading deleted/stale files, so RESTART the
  * query after a rebuild, or run [[indexMatches]] per micro-batch
  * through [[Streams.perBatch]]: on a BATCH frame it replans from
  * scratch (fresh sidecar, fresh file listing), so a nightly rebuild is
  * picked up at the next batch without a restart, for one sidecar read
  * and one file listing per batch (AnnStreamSpec pins it).
  */
object AnnStream {

  /** Matches of streaming `vectors` (columns `idCol`, `vecCol`, any
    * passthroughs) against the index at `indexPath`: one row per
    * (arriving id, index id) with cosine ≥ `threshold`. Arriving
    * vectors probe their `nProbe` nearest lists
    * ([[Clustering.nearestLists]] — a bounded nProbe× row duplication
    * of the SMALL stream side only; the index side still carries one
    * list per row), so near-boundary matches missed by the single
    * nearest list are recovered — the same recall dial as batch IVF,
    * paid in per-batch join width rather than state. `nProbe = 1` is
    * the latency-lean default. A (stream id, index id) pair matching
    * in several probed lists emits once per list (stateless join —
    * consumers dedup on the pair, same at-least-once contract as
    * [[DedupStream.indexCollisions]]).
    */
  def indexMatches(vectors: DataFrame, indexPath: String, idCol: String,
      vecCol: String, threshold: Double, nProbe: Int = 1): DataFrame = {
    val spark = vectors.sparkSession
    val centroids = Similarity.readIvfCentroids(spark, indexPath)
    require(nProbe >= 1 && nProbe <= centroids.size,
      s"nProbe $nProbe out of range [1, ${centroids.size}]")
    val lists = spark.read.parquet(s"$indexPath/lists")
      .select(col("id").as("index_id"), col("vec"), col("list_id"))
    vectors
      .withColumn("list_id",
        explode(Clustering.nearestLists(col(vecCol), centroids, nProbe)))
      .join(lists, Seq("list_id")) // stream-static equi-join
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col(vecCol), col("vec")))
      .filter(col("cos") >= threshold)
      .select(col(idCol), col("index_id"), col("list_id"), col("cos"))
  }

  /** Streaming ADC against a persisted IVF-PQ index
    * ([[Similarity.writeIvfPqIndex]]): arriving QUERY vectors probe
    * their `nProbe` best coarse lists map-only (the plane matrix
    * travels as a literal — [[Similarity.bestLists]], the same probe
    * definition the batch query path uses), stream-static join the
    * CODES-ONLY lists, and score by `m` codebook folds per candidate —
    * the index side still never materializes a float vector. A
    * per-query driver-side lookup table (the [[Similarity.pqAdcTopK]]
    * device) is impossible on a stream — the table depends on the
    * query — so the fold runs in codegen per pair; same ascending
    * IEEE order, so scores are IDENTICAL to the batch ADC's (spec'd).
    * Emits `(idCol, index_id, list_id, adc_score)` for pairs with
    * `adc_score ≥ minScore`, score on the 1e-4 grid; the
    * at-least-once multi-list contract of [[indexMatches]] applies.
    */
  def adcIndexMatches(vectors: DataFrame, indexPath: String,
      idCol: String, vecCol: String, minScore: Double,
      nProbe: Int = 1): DataFrame = {
    val spark = vectors.sparkSession
    val (model, nLists, dim) = Similarity.readIvfPqMeta(spark, indexPath)
    require(nProbe >= 1 && nProbe <= nLists,
      s"nProbe $nProbe out of range [1, $nLists]")
    val planes = graft.functions.VectorFunctions
      .deterministicPlanes(nLists, dim)
    val lists = spark.read.parquet(s"$indexPath/lists")
      .select(col("id").as("index_id"), col("codes"), col("list_id"))
    val q = transform(col(vecCol), x => x.cast("double"))
    val adc = model.codebooks.zipWithIndex.map { case (cb, s) =>
      graft.functions.VectorFunctions.dot(
        slice(q, s * model.subDim + 1, model.subDim),
        get(typedLit(cb), col("codes").getItem(s)))
    }.reduce(_ + _)
    vectors
      .withColumn("list_id",
        explode(Similarity.bestLists(col(vecCol), planes, nProbe)))
      .join(lists, Seq("list_id")) // stream-static equi-join
      .withColumn("adc_score", round(adc, 4))
      .filter(col("adc_score") >= minScore)
      .select(col(idCol), col("index_id"), col("list_id"),
        col("adc_score"))
  }

  /** STREAMING bitext candidates against a persisted IVF index — the
    * q392 incremental-mining composition as a stream: arriving
    * foreign documents probe their `nAssign` nearest lists map-only
    * (sidecar matrix as a literal) and stream-static join the lists
    * scan, emitting every candidate `(idCol x, y, list_id, cos)`
    * with `cos ≥ minCos`. Scores are the batch pair stage's own
    * expressions ([[Similarity.bitextCandidatePairsIndexed]] — the
    * SAME code), so per-pair cosines are IDENTICAL to the batch
    * probe's (spec'd). The forward-margin best-match selection is a
    * per-x top-k window — impossible on a pure stream — so consumers
    * either feed these candidates to a downstream batch margin job
    * or run the FULL batch probe ([[Similarity.bitextProbeIndexed]] —
    * pruned lists scan, forward margins, best match per x) per
    * micro-batch through [[Streams.perBatch]]: exactly what the batch
    * operator emits for that batch's rows, index rebuilds included.
    * The at-least-once multi-list contract of [[indexMatches]]
    * applies ONLY across restarts (within one batch a pair meets in
    * at most one list — an indexed vector lives in exactly one).
    */
  def bitextCandidates(vectors: DataFrame, indexPath: String,
      idCol: String, vecCol: String, minCos: Double,
      nAssign: Int = 2): DataFrame =
    Similarity.bitextCandidatePairsIndexed(vectors.sparkSession,
        indexPath, vectors, idCol, vecCol, nAssign,
        pruneLists = false)
      .filter(col("cos") >= minCos)
      .withColumnRenamed("x", idCol)
}
