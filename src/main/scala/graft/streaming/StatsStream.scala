package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming fold of the ANALYZE catalog stats
  * ([[graft.operators.Analyze.tableStats]]): every micro-batch
  * reduces to ONE partial-stats row per column (the mergeable subset
  * of the batch operator — counts, nulls, typed min/max, string
  * length mass; exact NDV is not mergeable and stays batch-side /
  * HLL), and [[merge]] folds partials into the running catalog row —
  * associative + commutative, so any batch split lands on the same
  * catalog. State at the consumer is O(columns): a [[Streams.fold]]
  * that merges each batch's collected partials into the running rows.
  */
object StatsStream {

  case class ColStats(col_name: String, n_rows: Long, n_nulls: Long,
      min_num: Option[Double], max_num: Option[Double],
      min_str: Option[String], max_str: Option[String],
      len_sum: Option[Long])

  /** Per-batch partial stats, one row per column — the map side of
    * the fold; reuses the batch operator's typed-stat shapes.
    */
  def partials(batch: DataFrame): Dataset[ColStats] = {
    val spark = batch.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types._
    val fields = batch.schema.fields.toSeq
    val aggs = count(lit(1)).as("__n") +: fields.flatMap { f =>
      val c = col(f.name)
      val base = Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nn_${f.name}"))
      val typed = f.dataType match {
        case _: NumericType => Seq(
          min(c).cast("double").as(s"__mnn_${f.name}"),
          max(c).cast("double").as(s"__mxn_${f.name}"))
        case StringType => Seq(
          min(c).as(s"__mns_${f.name}"), max(c).as(s"__mxs_${f.name}"),
          sum(length(c)).as(s"__sl_${f.name}"))
        case _ => Seq.empty
      }
      base ++ typed
    }
    val row = batch.agg(aggs.head, aggs.tail: _*).head()
    val out = fields.map { f =>
      def opt[T](n: String): Option[T] =
        if (!row.schema.fieldNames.contains(n) ||
          row.isNullAt(row.fieldIndex(n))) None
        else Some(row.getAs[T](n))
      ColStats(f.name, row.getAs[Long]("__n"),
        row.getAs[Long](s"__nn_${f.name}"),
        opt[Double](s"__mnn_${f.name}"), opt[Double](s"__mxn_${f.name}"),
        opt[String](s"__mns_${f.name}"), opt[String](s"__mxs_${f.name}"),
        opt[Long](s"__sl_${f.name}"))
    }
    spark.createDataset(out)
  }

  private def mergeOpt[T](a: Option[T], b: Option[T])(
      pick: (T, T) => T): Option[T] = (a, b) match {
    case (Some(x), Some(y)) => Some(pick(x, y))
    case (x, None) => x
    case (None, y) => y
  }

  /** Merge two partials for the same column — associative and
    * commutative, so any batch split folds to the same catalog row.
    */
  def merge(a: ColStats, b: ColStats): ColStats = ColStats(
    a.col_name, a.n_rows + b.n_rows, a.n_nulls + b.n_nulls,
    mergeOpt(a.min_num, b.min_num)(math.min),
    mergeOpt(a.max_num, b.max_num)(math.max),
    mergeOpt(a.min_str, b.min_str)((x, y) => if (x <= y) x else y),
    mergeOpt(a.max_str, b.max_str)((x, y) => if (x >= y) x else y),
    mergeOpt(a.len_sum, b.len_sum)(_ + _))
}
