package graft.streaming

import java.nio.file.Files

import graft.ingest.SparkSpec
import graft.operators.{Clustering, Similarity}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming vectors against a persisted IVF index: arriving re-embeds of
  * indexed content flag immediately, and the streaming result equals the
  * batch computation on the same input (statelessness).
  */
// top-level: encoder generation cannot reach a spec-inner class
case class AnnVec(vec_id: Long, embedding: Seq[Float])

class AnnStreamSpec extends SparkSpec {

  private lazy val vectors =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("arriving copies of indexed vectors match themselves; the stream " +
      "result equals the batch result row-for-row") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val cents = Clustering.kmeansCentroids(vectors, "vec_id", "embedding",
      k = 4, iters = 1)
    val dir = Files.createTempDirectory("graft-annstream").toString
    Similarity.writeIvfIndex(vectors, "vec_id", "embedding", dir, cents)

    // stream five re-embeds of indexed vectors (ids offset by 10000)
    val arrivals = vectors.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .as[AnnVec].collect().toSeq

    val mem = MemoryStream[AnnVec]
    val q = AnnStream.indexMatches(mem.toDF(), dir, "vec_id", "embedding",
        threshold = 0.999)
      .writeStream.format("memory").queryName("ann_matches")
      .outputMode(OutputMode.Append()).start()
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    q.stop()

    val out = s.sql("SELECT * FROM ann_matches").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("index_id")))
    // each copy matches at least its own original (cos = 1 at nProbe=1:
    // an identical vector assigns to the identical list)
    (0L until 5L).foreach { i =>
      assert(out.contains((i + 10000L, i)),
        s"copy of $i did not match itself: ${out.toSeq}")
    }

    // statelessness: identical rows from the batch form of the same op
    val batch = AnnStream.indexMatches(
        vectors.filter(col("vec_id") < 5)
          .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")),
        dir, "vec_id", "embedding", threshold = 0.999)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("index_id")))
    assert(out.toSet === batch.toSet)
    assert(out.length === batch.length)
  }

  test("multi-probe widens the stream match set monotonically and " +
      "nProbe=1 equals the original single-assignment semantics") {
    val s = spark
    import s.implicits._
    val cents = Clustering.kmeansCentroids(vectors, "vec_id", "embedding",
      k = 8, iters = 1)
    val dir = Files.createTempDirectory("graft-annstream-probe").toString
    Similarity.writeIvfIndex(vectors, "vec_id", "embedding", dir, cents)
    // batch form of the same op (AnnStreamSpec already proves stream ≡
    // batch): arriving re-embeds at a loose threshold so cross-list
    // near-matches exist
    val arrivals = vectors.filter(col("vec_id") < 50)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    def pairs(p: Int) = AnnStream
      .indexMatches(arrivals, dir, "vec_id", "embedding",
        threshold = 0.3, nProbe = p)
      .select("vec_id", "index_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairs(1)
    val p3 = pairs(3)
    assert(p1.subsetOf(p3),
      s"multi-probe lost matches: ${p1.diff(p3)}")
    assert(p3.size > p1.size,
      s"nProbe=3 found nothing beyond nProbe=1 (${p1.size}) - the " +
        "recall dial is dead on this fixture")
    info(s"stream ANN matches @cos>=0.3: nProbe=1 ${p1.size}, " +
      s"nProbe=3 ${p3.size}")
  }

  test("indexMatchesRefreshing picks up an index REBUILD between " +
      "micro-batches without a query restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val cents = Clustering.kmeansCentroids(vectors, "vec_id", "embedding",
      k = 4, iters = 1)
    val dir = Files.createTempDirectory("graft-annstream-rebuild").toString
    Similarity.writeIvfIndex(vectors, "vec_id", "embedding", dir, cents)

    val arrivals = vectors.filter(col("vec_id") < 3)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .as[AnnVec].collect().toSeq

    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)] // (batchId, vec_id, index_id)
    val mem = MemoryStream[AnnVec]
    // indexMatches on each micro-batch replans from scratch: fresh
    // sidecar, fresh file listing
    val q = Streams.perBatch(mem.toDF())(AnnStream.indexMatches(_, dir,
        "vec_id", "embedding", threshold = 0.999)) { (matches, batchId) =>
      seen.synchronized {
        seen ++= matches.collect().map(r =>
          (batchId, r.getAs[Long]("vec_id"), r.getAs[Long]("index_id")))
      }
    }.start()

    // batch 1 against the original index: copies match original ids
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    // REBUILD in place: same vectors, ids shifted by 500 — a restarted
    // nightly job overwriting yesterday's index
    Similarity.writeIvfIndex(
      vectors.select((col("vec_id") + 500L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", dir, cents)
    // batch 2 must match against the NEW ids, same running query
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    q.stop()

    val batches = seen.groupBy(_._1)
    assert(batches.size === 2, s"expected 2 batches, saw: $seen")
    val (firstId, secondId) = {
      val ids = batches.keys.toSeq.sorted
      (ids.head, ids.last)
    }
    (0L until 3L).foreach { i =>
      assert(batches(firstId).exists(t => t._2 == i + 10000L && t._3 == i),
        s"batch 1: copy of $i missed its original: $seen")
      assert(
        batches(secondId).exists(t => t._2 == i + 10000L && t._3 == i + 500L),
        s"batch 2: copy of $i did not match the REBUILT index: $seen")
      assert(!batches(secondId).exists(t => t._2 == i + 10000L && t._3 == i),
        s"batch 2 still served the old index ids: $seen")
    }
  }

  test("streaming ADC against the persisted IVF-PQ index: stream == " +
      "batch, and per-pair scores equal the batch ADC's exactly") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val model = Similarity.trainPq(vectors, "vec_id", "embedding",
      m = 16, k = 16, iters = 2)
    val dir = Files.createTempDirectory("graft-annstream-pq").toString
    Similarity.writeIvfPqIndex(vectors, "vec_id", "embedding", dir,
      model, nLists = 16)

    val arrivals = vectors.filter(col("vec_id") < 3)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      .as[AnnVec].collect().toSeq

    val mem = MemoryStream[AnnVec]
    val q = AnnStream.adcIndexMatches(mem.toDF(), dir, "vec_id",
        "embedding", minScore = 0.0, nProbe = 2)
      .writeStream.format("memory").queryName("adc_matches")
      .outputMode(OutputMode.Append()).start()
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = s.sql("SELECT * FROM adc_matches").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("index_id"),
        r.getAs[Double]("adc_score")))
    assert(streamed.nonEmpty)

    // statelessness: the batch form of the same op on the same rows
    val batch = AnnStream.adcIndexMatches(
        vectors.filter(col("vec_id") < 3)
          .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")),
        dir, "vec_id", "embedding", minScore = 0.0, nProbe = 2)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("index_id"),
        r.getAs[Double]("adc_score")))
    assert(streamed.sorted.toSeq === batch.sorted.toSeq)

    // score identity with the batch ADC path: for query vec 0, every
    // (index_id, score) the stream emitted must agree with pqAdcTopK's
    // table-lookup scores (same IEEE fold order by construction)
    val qv = vectors.filter(col("vec_id") === 0L)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0).toSeq
    val adcScores = Similarity.pqAdcTopK(
        Similarity.pqEncode(vectors, "vec_id", "embedding", model),
        "vec_id", qv, model, k = vectors.count().toInt)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    streamed.filter(_._1 == 10000L).foreach { case (_, idx, sc) =>
      assert(adcScores(idx) === sc,
        s"stream ADC $sc != batch ADC ${adcScores(idx)} for $idx")
    }
  }

  test("streaming bitext candidates equal the batch pair stage " +
      "score-for-score (pruned scan included), and the refreshing " +
      "probe emits exactly the batch bitextProbeIndexed rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val en = vectors.filter(col("vec_id") % 2 === 0)
    val cents = Clustering.kmeansCentroids(en, "vec_id", "embedding",
      k = 4, iters = 1)
    val dir = Files.createTempDirectory("graft-annstream-bitext").toString
    Similarity.writeIvfIndex(en, "vec_id", "embedding", dir, cents)
    val deltaDf = vectors
      .filter(col("vec_id") % 2 === 1 && col("vec_id") < 60)
      .select(col("vec_id"), col("embedding"))
    val arrivals = deltaDf.as[AnnVec].collect().toSeq

    val mem = MemoryStream[AnnVec]
    val q = AnnStream.bitextCandidates(mem.toDF(), dir, "vec_id",
        "embedding", minCos = -2.0, nAssign = 2)
      .writeStream.format("memory").queryName("bitext_cands")
      .outputMode(OutputMode.Append()).start()
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("SELECT * FROM bitext_cands").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("y"),
        r.getAs[Double]("cos"))).toSet
    // batch pair stage WITH the literal-isin pruning: score-for-score
    // identical — pruning changes which files are listed, never a bit
    // of any score
    val batch = Similarity.bitextCandidatePairsIndexed(s, dir, deltaDf,
        "vec_id", "embedding", nAssign = 2, pruneLists = true)
      .collect().map(r => (r.getAs[Long]("x"), r.getAs[Long]("y"),
        r.getAs[Double]("cos"))).toSet
    assert(streamed.nonEmpty && streamed === batch)

    // refreshing probe: per-batch full mining == the batch operator
    var got = Set.empty[(Long, Long, Double, Double)]
    val mem2 = MemoryStream[AnnVec]
    val q2 = Streams.perBatch(mem2.toDF())(b => Similarity
        .bitextProbeIndexed(b.sparkSession, dir, b, "vec_id",
          "embedding", k = 4, nAssign = 2)) { (df, _) =>
      got = got ++ df.collect().map(r => (r.getAs[Long]("x"),
        r.getAs[Long]("best_match"), r.getAs[Double]("cos"),
        r.getAs[Double]("margin")))
    }.start()
    mem2.addData(arrivals: _*)
    q2.processAllAvailable()
    q2.stop()
    val batchBest = Similarity.bitextProbeIndexed(s, dir, deltaDf,
        "vec_id", "embedding", k = 4, nAssign = 2)
      .collect().map(r => (r.getAs[Long]("x"),
        r.getAs[Long]("best_match"), r.getAs[Double]("cos"),
        r.getAs[Double]("margin"))).toSet
    assert(got.nonEmpty && got === batchBest)
  }
}
