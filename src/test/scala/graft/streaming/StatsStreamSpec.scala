package graft.streaming

import graft.ingest.SparkSpec
import graft.operators.Analyze
import graft.streaming.StreamsSpec.foldAll
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streamed catalog stats ≡ the batch ANALYZE on the mergeable
  * columns, plus the fold's algebraic laws.
  */
class StatsStreamSpec extends SparkSpec {

  import StatsStream.ColStats

  private def tape: Seq[(Long, Option[Double], Option[String])] = {
    var seed = 99L
    def next(): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L; seed
    }
    (1 to 300).map { i =>
      val v = if ((next() >>> 33) % 10 == 0) None
        else Some(((next() >>> 40) % 1000).toDouble)
      val t = if ((next() >>> 33) % 7 == 0) None
        else Some(("w" + ((next() >>> 40) % 50)).toString)
      (i.toLong, v, t)
    }
  }

  test("streamed fold over 3 chunks == batch tableStats on the " +
      "mergeable columns; merge is associative/commutative") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rows = tape
    val mem = MemoryStream[(Long, Option[Double], Option[String])]
    val state = foldAll(mem, mem.toDS().toDF("k", "v", "t"),
        rows.grouped(100).toSeq, Map.empty[String, ColStats]) {
      (st, batch, _) =>
        StatsStream.partials(batch).collect().foldLeft(st) { (acc, p) =>
          acc + (p.col_name -> acc.get(p.col_name)
            .map(StatsStream.merge(_, p)).getOrElse(p))
        }
    }
    val batch = Analyze.tableStats(rows.toDF("k", "v", "t"))
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("k", "v", "t").foreach { c =>
      val st = state(c); val b = batch(c)
      assert(st.n_rows === b.getAs[Long]("n_rows"), c)
      assert(st.n_nulls === b.getAs[Long]("n_nulls"), c)
      if (!b.isNullAt(b.fieldIndex("min_num"))) {
        assert(st.min_num.get === b.getAs[Double]("min_num"), c)
        assert(st.max_num.get === b.getAs[Double]("max_num"), c)
      }
      if (!b.isNullAt(b.fieldIndex("min_str"))) {
        assert(st.min_str.get === b.getAs[String]("min_str"), c)
        assert(st.max_str.get === b.getAs[String]("max_str"), c)
      }
      if (!b.isNullAt(b.fieldIndex("avg_len"))) {
        val avg = BigDecimal(st.len_sum.get.toDouble /
          (st.n_rows - st.n_nulls)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(avg === b.getAs[Double]("avg_len"), c)
      }
    }
    // algebraic laws on the string column's partials across an
    // arbitrary 5-way split
    val parts = rows.grouped(60).map(chunk =>
      StatsStream.partials(chunk.toDF("k", "v", "t"))
        .collect().find(_.col_name == "t").get).toSeq
    val l2r = parts.reduce(StatsStream.merge)
    val r2l = parts.reverse.reduce(StatsStream.merge)
    assert(l2r === r2l)
    assert(l2r === state("t"))
  }
}
