package graft.streaming

import java.sql.Timestamp

import graft.ingest.SparkSpec
import graft.operators.Sketches
import graft.streaming.StreamsSpec.foldAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Sketches over a stream: per-batch sketches folded through
  * `Streams.fold` with the pure merge operators are identical to the
  * batch sketch of the whole stream — the property that makes a few-KB
  * running state valid regardless of stream length.
  */
// top-level: encoder codegen cannot reach a class nested in the suite
case class SkItem(item: String, ts: Timestamp)
case class SkVal(v: Long, ts: Timestamp)
case class SkKeyed(key: String, item: String)
case class SkQuant(key: String, id: String, v: Long)
case class SkShard(shard: Int, k: Long, v: Long)
case class SkWQuant(key: String, id: Long, v: Long, w: Long)

class SketchStreamSpec extends SparkSpec {

  private def ts0 = Timestamp.valueOf("2026-01-01 10:00:00")

  test("folded streaming count-min == batch count-min; folded hll " +
      "registers == batch registers") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val b1 = (1 to 50).map(i => SkItem(s"w${i % 17}", ts0))
    val b2 = (1 to 30).map(i => SkItem(s"w${i % 23}", ts0))

    val mem = MemoryStream[SkItem]
    val cms = foldAll(mem, mem.toDF(), Seq(b1, b2),
        Option.empty[DataFrame]) { (acc, batch, _) =>
      val cells = Sketches.countMinBuild(batch, "item", depth = 4,
        width = 256)
      Some(acc.fold(cells)(Sketches.countMinMerge(_, cells)))
    }

    def cells(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = Sketches.countMinBuild(
      (b1 ++ b2).toDF(), "item", depth = 4, width = 256)
    assert(cells(cms.get) === cells(whole),
      "folded stream sketch must equal the batch sketch")

    val mem2 = MemoryStream[SkItem]
    val regs = foldAll(mem2, mem2.toDF(), Seq(b1, b2),
        Option.empty[DataFrame]) { (acc, batch, _) =>
      val r = Sketches.hllRegisters(batch, "item", p = 6)
      Some(acc.fold(r)(Sketches.hllMerge(_, r)))
    }

    def rmap(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rmap(regs.get) ===
      rmap(Sketches.hllRegisters((b1 ++ b2).toDF(), "item", 6)),
      "folded stream registers must equal the batch registers")
  }

  test("folded streaming log-hist == batch log-hist of the whole stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val b1 = (1L to 40L).map(i => SkVal(i % 19, ts0))
    val b2 = (1L to 25L).map(i => SkVal(i * 37, ts0))

    val mem = MemoryStream[SkVal]
    val hist = foldAll(mem, mem.toDF(), Seq(b1, b2),
        Option.empty[DataFrame]) { (acc, batch, _) =>
      val h = Sketches.logHistBuild(batch, "v")
      Some(acc.fold(h)(Sketches.logHistMerge(_, h)))
    }

    def hmap(df: DataFrame) = df.collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hmap(hist.get) ===
      hmap(Sketches.logHistBuild((b1 ++ b2).toDF(), "v")),
      "folded stream histogram must equal the batch histogram")
  }

  test("folded streaming KMV == batch KMV of the whole stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val b1 = (1 to 300).map(i => SkKeyed(s"k${i % 2}", s"it_$i"))
    val b2 = (200 to 500).map(i => SkKeyed(s"k${i % 2}", s"it_$i"))
    val mem = MemoryStream[SkKeyed]
    val sk = foldAll(mem, mem.toDF(), Seq(b1, b2),
        Option.empty[DataFrame]) { (acc, batch, _) =>
      val b = Sketches.kmvSketchBy(batch, "key", "item", 32)
      Some(acc.fold(b)(Sketches.kmvMerge(_, b, 32)))
    }
    def m(df: DataFrame) = df.select("key", "rank", "h").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val whole = Sketches.kmvSketchBy((b1 ++ b2).toDF("key", "item"),
      "key", "item", 32)
    assert(m(sk.get) === m(whole),
      "folded stream KMV must equal the whole-stream sketch")
  }

  test("folded streaming quantile-sample registers == batch registers " +
      "of the whole stream (disjoint batches)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val b1 = (1 to 400).map(i =>
      SkQuant(s"k${i % 2}", s"d$i", (i.toLong * i) % 997))
    val b2 = (401 to 900).map(i =>
      SkQuant(s"k${i % 2}", s"d$i", (i.toLong * i) % 997))
    val mem = MemoryStream[SkQuant]
    val sk = foldAll(mem, mem.toDF(), Seq(b1, b2),
        Option.empty[DataFrame]) { (acc, batch, _) =>
      val b = graft.operators.QuantileSketch.sampleRegistersBy(
        batch, "key", "id", "v", 64)
      Some(acc.fold(b)(
        graft.operators.QuantileSketch.sampleMerge(_, b, 64)))
    }
    def m(df: DataFrame) = df.select("key", "h", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val whole = graft.operators.QuantileSketch.sampleRegistersBy(
      (b1 ++ b2).toDF(), "key", "id", "v", 64)
    assert(m(sk.get) === m(whole),
      "folded stream registers must equal the whole-stream registers")
    // and the readout over the folded sketch is a valid quantile table
    val qs = graft.operators.QuantileSketch.sampleQuantilesBy(
      sk.get, Seq(50, 90))
    assert(qs.count() === 4L)
  }

  test("folded streaming WEIGHTED quantile-sample registers == batch " +
      "registers of the whole stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val b1 = (1 to 300).map(i =>
      SkWQuant(s"k${i % 2}", i.toLong, (i * 3L) % 509, 1L + i % 7))
    val b2 = (301 to 700).map(i =>
      SkWQuant(s"k${i % 2}", i.toLong, (i * 3L) % 509, 1L + i % 7))
    val mem = MemoryStream[SkWQuant]
    val sk = foldAll(mem, mem.toDF(), Seq(b1, b2),
        Option.empty[DataFrame]) { (acc, batch, _) =>
      val b = graft.operators.QuantileSketch.weightedSampleRegistersBy(
        batch, "key", "id", "v", "w", 48)
      Some(acc.fold(b)(
        graft.operators.QuantileSketch.weightedSampleMerge(_, b, 48)))
    }
    def m(df: DataFrame) = df.select("key", "skey", "v").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val whole = graft.operators.QuantileSketch.weightedSampleRegistersBy(
      (b1 ++ b2).toDF(), "key", "id", "v", "w", 48)
    assert(m(sk.get) === m(whole))
  }

  test("folded streaming Misra-Gries keeps the band and superset " +
      "guarantee over the whole stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val b1 = Seq.fill(120)("hot") ++ Seq.fill(40)("warm") ++
      (1 to 150).map(i => s"cold$i")
    val b2 = Seq.fill(80)("hot") ++ Seq.fill(70)("warm") ++
      (151 to 300).map(i => s"cold$i")
    val mem = MemoryStream[String]
    val k = 9
    val (acc, n) = foldAll(mem, mem.toDF().select(
        org.apache.spark.sql.functions.col("value").as("item")),
        Seq(b1, b2), (Map.empty[String, Long], 0L)) {
      case ((acc, n), batch, _) =>
        val (summary, bn) =
          graft.operators.HeavyHitters.summarize(batch, "item", k)
        (graft.operators.HeavyHitters.mergeSummaries(acc, summary, k),
          n + bn)
    }
    val all = b1 ++ b2
    assert(n === all.size.toLong)
    assert(acc.size <= k)
    val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = all.size.toDouble / (k + 1)
    acc.foreach { case (item, est) =>
      assert(est <= truth(item), s"overcount on $item")
    }
    truth.filter(_._2 > bound).keys.foreach { h =>
      assert(acc.contains(h), s"stream fold lost hitter $h")
    }
  }

  test("folded streaming skipping manifest == batch manifest of the " +
      "whole stream, exactly") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val b1 = (1 to 300).map(i => SkShard(i % 8, i.toLong, i * 3L))
    val b2 = (250 to 600).map(i => SkShard(i % 8, i.toLong, i * 3L))
    val mem = MemoryStream[SkShard]
    val acc = foldAll(mem, mem.toDF(), Seq(b1, b2),
        Option.empty[DataFrame]) { (prev, batch, _) =>
      val m = graft.sources.SkippingManifest.build(batch, "shard",
        Seq("k", "v"))
      Some(prev.fold(m)(graft.sources.SkippingManifest
        .merge(_, m, "shard", Seq("k", "v"))))
    }
    def m(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val whole = graft.sources.SkippingManifest.build(
      (b1 ++ b2).toDF("shard", "k", "v"), "shard", Seq("k", "v"))
    assert(m(acc.get) === m(whole))
  }
}
