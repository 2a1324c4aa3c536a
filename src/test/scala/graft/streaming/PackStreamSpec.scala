package graft.streaming

import java.sql.Timestamp

import graft.ingest.SparkSpec
import graft.operators.Packing
import graft.streaming.StreamsSpec.foldAll
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

// top-level: encoder codegen cannot reach a class nested in the suite
case class PkDoc(doc_id: Long, text: String, ts: Timestamp)

/** Streaming packing: batches of an id-ordered stream packed at the
  * offset a `Streams.fold` carries (one long: the tokens seen before the
  * batch) union to exactly the whole-stream packing — including
  * sequences that straddle a batch boundary.
  */
class PackStreamSpec extends SparkSpec {

  private def ts0 = Timestamp.valueOf("2026-01-01 10:00:00")

  test("folded streaming packing == batch packing of the whole stream, " +
      "across a sequence that straddles the batch boundary") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // id-ordered batches; S=5 and 3+4=7 tokens in batch 1 guarantee the
    // boundary falls mid-sequence (seq1 starts in b1, finishes in b2)
    val b1 = Seq(PkDoc(1L, "a b c", ts0), PkDoc(2L, "d e f g", ts0))
    val b2 = Seq(PkDoc(3L, "h i j k l m", ts0), PkDoc(4L, "n o", ts0))

    var folded = Vector.empty[(Long, Long, Long, Long, Long)]
    val mem = MemoryStream[PkDoc]
    foldAll(mem, mem.toDF(), Seq(b1, b2), 0L) { (offset, batch, _) =>
      val packed = Packing.packSequences(batch, "doc_id", "text",
        seqLen = 5, startOffset = offset).collect()
      folded ++= packed.map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
      offset + packed.map(r => r.getAs[Long]("doc_to") -
        r.getAs[Long]("doc_from")).sum
    }

    val whole = Packing.packSequences((b1 ++ b2).toDF(), "doc_id",
        "text", seqLen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(folded.sorted === whole.toVector.sorted,
      s"folded $folded vs whole ${whole.toVector}")
    // the straddle really happened: batch 2's first doc opens mid-seq
    assert(folded.exists(t => t._1 === 3L && t._5 > 0L),
      "expected doc 3 to start at a nonzero sequence offset")
  }
}
