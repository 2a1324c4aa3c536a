package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The two micro-batch shapes every `foreachBatch` deployment here
  * reduces to. Both return the writer unstarted: the caller adds its
  * options (checkpoint, trigger, output mode) and starts it.
  *
  *  - [[perBatch]] — run a BATCH operator on each micro-batch and hand
  *    its result to a sink. Results are batch-identical per micro-batch;
  *    an operator that needs whole documents gets them provided each
  *    document arrives whole in one batch (rows, not token streams).
  *  - [[fold]] — carry one driver-side state across micro-batches: a
  *    mergeable sketch, a count table, a forecast state, an offset. The
  *    step is a left fold, so for an associative merge (or a resumable
  *    recursion such as [[graft.operators.Forecast.holtLinearFrom]]) the
  *    final state equals the batch operator over the whole stream.
  *
  * Fold contract:
  *  - a DataFrame state (or `Some` of one) is cached and counted as soon
  *    as the step returns it, then the previous state is released; after
  *    the writer stops only the last state stays cached, and the caller
  *    owns it. `zero` is never released.
  *  - replay: a batch id equal to the last one folded (Spark re-runs a
  *    batch that failed before its commit) re-folds from the state
  *    before it, so no batch folds twice. That state was released, so a
  *    replay recomputes it from its lineage once.
  *  - resume guard: fold state lives in the writer's closure, NOT under
  *    the checkpoint. A fold whose first batch id is not 0, or that skips
  *    an id, throws an `IllegalStateException` instead of silently
  *    folding from `zero`. Restarting the SAME writer on its own
  *    checkpoint after a failure is fine: its state is still in memory.
  *  - stream length: a DataFrame state's plan nests the state before
  *    it, and its explain string (built on every action) doubles with
  *    each batch — 1.4 k characters at batch 0, 18 M at batch 12 for a
  *    [[DriftStream.mergeCounts]] fold. DataFrame folds suit short
  *    streams until the state is re-rooted at persisted files.
  */
object Streams {

  /** `sink(f(batch), batchId)` for every micro-batch. */
  def perBatch[T](stream: DataFrame)(f: DataFrame => T)(
      sink: (T, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(f(batch), batchId)
    }

  /** `state = step(state, batch, batchId)` for every micro-batch,
    * starting from `zero`, under the fold contract above. A step that
    * wants to emit (a sink, a log line) does it before returning; if it
    * throws, the state does not advance.
    */
  def fold[S](stream: DataFrame, zero: S)(
      step: (S, DataFrame, Long) => S): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch(new Fold(zero, step))

  /** The fold's driver-side carry: one per writer, called once per
    * micro-batch on the stream's thread.
    */
  private[streaming] final class Fold[S](zero: S,
      step: (S, DataFrame, Long) => S) extends ((DataFrame, Long) => Unit) {
    private var last = -1L // id of the last batch folded
    private var before = zero // the state before batch `last`
    private var state = zero // the state after batch `last`

    def apply(batch: DataFrame, batchId: Long): Unit = {
      if (batchId != last && batchId != last + 1)
        throw new IllegalStateException(s"fold expected batch ${last + 1} " +
          s"but got batch $batchId: fold state is not checkpointed, so a " +
          "fold starts on a fresh checkpoint and sees every batch from 0")
      if (batchId == last) { // replay: drop the uncommitted result
        release(state, before)
        state = before
      }
      val next = step(state, batch, batchId)
      frames(next).foreach { df => df.cache(); df.count() }
      release(state, next)
      before = state
      state = next
      last = batchId
    }

    /** Unpersist `old`'s frames unless `keep` or `zero` holds them. */
    private def release(old: S, keep: S): Unit = {
      val held = frames(keep) ++ frames(zero)
      frames(old).filterNot(o => held.exists(_ eq o)).foreach(_.unpersist())
    }
  }

  private def frames(s: Any): Seq[Dataset[_]] = s match {
    case df: Dataset[_] => Seq(df)
    case Some(df: Dataset[_]) => Seq(df)
    case _ => Nil
  }
}
