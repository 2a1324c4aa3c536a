package graft.streaming

import java.nio.file.Files

import graft.ingest.SparkSpec
import graft.operators.{Forecast, Robust}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.storage.StorageLevel

/** The two micro-batch shapes: `perBatch` hands every batch id to the
  * sink in order, and `fold` keeps its contract — a replayed batch folds
  * once, a fold never starts mid-checkpoint, and only the last
  * DataFrame state stays cached.
  */
class StreamsSpec extends SparkSpec {

  import StreamsSpec.foldAll

  private def tokens(df: DataFrame) = df.collect()
    .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The running token-count fold, as a step. */
  private def countStep(acc: Option[DataFrame], batch: DataFrame, id: Long)
      : Option[DataFrame] = {
    val c = DriftStream.tokenCounts(batch, "value")
    Some(acc.fold(c)(DriftStream.mergeCounts(_, c)))
  }

  /** Runs `batches` through a fold whose step throws once on batch 1,
    * then restarts the same writer on the same checkpoint; returns the
    * last state the step produced.
    */
  private def foldThroughFailure[T](mem: MemoryStream[T],
      batches: Seq[Seq[T]])(next: (Option[DataFrame], DataFrame) => DataFrame)
      : DataFrame = {
    val ckpt = Files.createTempDirectory("graft-streams-replay").toString
    var failed = false
    var last: DataFrame = null
    val writer = Streams.fold(mem.toDF(), Option.empty[DataFrame]) {
      (st, batch, id) =>
        val n = next(st, batch)
        if (id == 1L && !failed) { // the sink throws once on batch 1
          failed = true
          throw new RuntimeException("sink failed on batch 1")
        }
        last = n
        Some(n)
    }.option("checkpointLocation", ckpt)
    val q1 = writer.start()
    mem.addData(batches(0): _*)
    q1.processAllAvailable()
    mem.addData(batches(1): _*)
    intercept[StreamingQueryException](q1.processAllAvailable())
    val q2 = writer.start() // Spark replays the uncommitted batch 1
    q2.processAllAvailable()
    batches.drop(2).foreach { b =>
      mem.addData(b: _*)
      q2.processAllAvailable()
    }
    q2.stop()
    assert(failed)
    last
  }

  test("a batch replayed after its sink threw folds once: the Holt and " +
      "EWMA states equal the whole-stream fold") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val fc = (0 until 90).map(t => FcPoint("a", t, 3.0 * t + 10 + t % 7))
    val fcBatches = Seq(fc.filter(_.t < 30),
      fc.filter(p => p.t >= 30 && p.t < 60), fc.filter(_.t >= 60))
    val holt = foldThroughFailure(MemoryStream[FcPoint], fcBatches) {
      (st, b) => st.fold(Forecast.holtLinear(b, "k", "t", "y", 0.3, 0.1, 5))(
        Forecast.holtLinearFrom(b, "k", "t", "y", _, 0.3, 0.1, 5))
    }
    def holtRows(df: DataFrame) = df.select("k", "n_obs", "level", "trend")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(holtRows(holt) === holtRows(Forecast.holtLinear(
      fc.toDF(), "k", "t", "y", 0.3, 0.1, 5)))

    val cc = (0 until 40).map(t => CcPoint("a", t, 10.0 + t % 2)) ++
      (40 until 100).map(t => CcPoint("a", t, 20.0 + t % 2))
    val ccBatches = Seq(cc.filter(_.t < 40),
      cc.filter(p => p.t >= 40 && p.t < 70), cc.filter(_.t >= 70))
    val ewma = foldThroughFailure(MemoryStream[CcPoint], ccBatches) {
      (st, b) => st.fold(Robust.ewmaControl(b, "k", "t", "y", 0.2, 3.0))(
        Robust.ewmaControlFrom(b, "k", "t", "y", _, 0.2, 3.0))
    }
    val whole = Robust.ewmaControlFrom(ccBatches.drop(1).flatten.toDF(),
      "k", "t", "y", Robust.ewmaControl(ccBatches.head.toDF(), "k", "t",
        "y", 0.2, 3.0), 0.2, 3.0)
    assert(ewma.collect().toSet === whole.collect().toSet)
    assert(ewma.head().getAs[Long]("n_obs") === 100L)
  }

  test("a fold started on a checkpoint that already committed batches " +
      "throws: fold state is not checkpointed") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ckpt = Files.createTempDirectory("graft-streams-resume").toString
    val mem = MemoryStream[String]
    val used = Streams.perBatch(mem.toDF())(_.count())((_, _) => ())
      .option("checkpointLocation", ckpt).start()
    mem.addData("a b", "c")
    used.processAllAvailable()
    used.stop()

    val q = Streams.fold(mem.toDF(), Option.empty[DataFrame])(countStep)
      .option("checkpointLocation", ckpt).start()
    mem.addData("d")
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    q.stop()
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    val guard = causes.collectFirst { case c: IllegalStateException => c }
    assert(guard.exists(_.getMessage.contains(
      "but got batch 1: fold state is not checkpointed")), causes)
  }

  test("after stop() only the final fold state stays persisted") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
    val states = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val mem = MemoryStream[String]
    val batches = Seq(Seq("a b", "b"), Seq("c a"), Seq("a", "d d"))
    val last = foldAll(mem, mem.toDF(), batches, Option.empty[DataFrame]) {
      (acc, b, id) =>
        val next = countStep(acc, b, id)
        states += next.get
        next
    }
    assert(states.size === 3)
    assert(states.init.forall(_.storageLevel == StorageLevel.NONE))
    assert(last.get.storageLevel != StorageLevel.NONE)
    assert((s.sparkContext.getPersistentRDDs.keySet -- persistedBefore)
      .size === 1)
    assert(tokens(last.get) ===
      Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "d" -> 2L))
    last.get.unpersist()
  }

  test("perBatch hands batch ids 0, 1, 2 to the sink in order") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val mem = MemoryStream[String]
    val q = Streams.perBatch(mem.toDF())(_.count()) { (n, id) =>
      seen += id -> n
    }.start()
    Seq(Seq("a"), Seq("b", "c"), Seq("d", "e", "f")).foreach { b =>
      mem.addData(b: _*)
      q.processAllAvailable()
    }
    q.stop()
    assert(seen.toSeq === Seq(0L -> 1L, 1L -> 2L, 2L -> 3L))
  }

  test("a batch id replayed after a successful fold re-folds from the " +
      "state before it; a skipped id throws") {
    val s = spark
    import s.implicits._
    val b0 = Seq("a b", "a").toDF()
    val b1 = Seq("b c").toDF()
    val b2 = Seq("a d").toDF()
    var last: Option[DataFrame] = None
    val fold = new Streams.Fold[Option[DataFrame]](None, (acc, b, id) => {
      last = countStep(acc, b, id)
      last
    })
    fold(b0, 0L)
    fold(b1, 1L)
    fold(b1, 1L) // Spark re-runs batch 1: its commit never landed
    fold(b2, 2L)
    assert(tokens(last.get) === Map("a" -> 3L, "b" -> 2L, "c" -> 1L,
      "d" -> 1L))
    val e = intercept[IllegalStateException](fold(b2, 4L))
    assert(e.getMessage.contains("fold expected batch 3 but got batch 4"))
    last.get.unpersist()
  }
}

object StreamsSpec {

  /** Adds each of `batches` to `mem`, folding `stream` (a projection of
    * `mem`) through [[Streams.fold]] after each; returns the final state.
    */
  def foldAll[T, S](mem: MemoryStream[T], stream: DataFrame,
      batches: Seq[Seq[T]], zero: S)(step: (S, DataFrame, Long) => S): S = {
    var last = zero
    val q = Streams.fold(stream, zero) { (st, batch, id) =>
      last = step(st, batch, id)
      last
    }.start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    last
  }
}
