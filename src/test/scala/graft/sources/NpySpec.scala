package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class NpyDataFramesSpec extends graft.ingest.SparkSpec {
  test("binaryFile + npy decode loads the reference's indexer artifacts") {
    val df = NpyDataFrames.readEmbeddings(spark,
      "/root/reference/src/navigator_data_ingest/tests/fixtures/" +
        "pipeline_in/indexer_input")
    val rows = df.collect()
    assert(rows.length === 5)
    val first = df.filter(org.apache.spark.sql.functions.col("doc_id") ===
      "TESTCCLW.executive.1.1").head()
    assert(first.getAs[Seq[Int]]("shape") === Seq(8, 768))
    assert(first.getAs[Seq[Float]]("embedding").length === 8 * 768)
  }
}

/** [[NpyDataFramesSpec]]'s hermetic twin: the artifacts are written here
  * with [[Npy.write]], so the read path runs without the reference tree.
  */
class NpyDataFramesHermeticSpec extends graft.ingest.SparkSpec {
  test("binaryFile + npy decode loads 1-D and 2-D artifacts, skipping non-npy files") {
    val dir = Files.createTempDirectory("graft-npy")
    try {
      val vec = Array(1.5f, -2f, 0.25f)
      val mat = Array.tabulate(6)(i => i * 0.5f)
      Files.write(dir.resolve("doc.a.npy"), Npy.write(vec, Seq(3)))
      Files.write(dir.resolve("doc.b.npy"), Npy.write(mat, Seq(2, 3)))
      Files.write(dir.resolve("notes.txt"), "not an npy".getBytes("UTF-8"))
      val rows = NpyDataFrames.readEmbeddings(spark, dir.toString).collect()
        .map(r => (r.getAs[String]("doc_id"), r.getAs[Seq[Int]]("shape"),
          r.getAs[Seq[Float]]("embedding")))
        .sortBy(_._1).toSeq
      assert(rows === Seq(
        ("doc.a", Seq(3), vec.toSeq),
        ("doc.b", Seq(2, 3), mat.toSeq)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}

class NpySpec extends AnyFunSuite {

  test("reads the reference's real indexer npy fixture") {
    val bytes = Files.readAllBytes(Paths.get(
      "/root/reference/src/navigator_data_ingest/tests/fixtures/" +
        "pipeline_in/indexer_input/TESTCCLW.executive.1.1.npy"))
    val (data, shape) = Npy.read(bytes)
    assert(shape.product === data.length)
    assert(data.length > 0)
    assert(data.forall(f => !f.isNaN))
  }

  test("write/read round-trip is byte-stable and numpy-shaped") {
    val vec = Array.tabulate(37)(i => i * 0.5f - 3f)
    val blob = Npy.write(vec, Seq(37))
    // numpy.save alignment contract: total header is 64-byte aligned
    val (h, off) = Npy.readHeader(blob)
    assert(off % 64 === 0)
    assert(h.shape === Seq(37))
    val (back, shape) = Npy.read(blob)
    assert(shape === Seq(37))
    assert(back.toSeq === vec.toSeq)
    // 2-D round trip
    val m = Array.tabulate(6)(_.toFloat)
    val blob2 = Npy.write(m, Seq(2, 3))
    val (back2, shape2) = Npy.read(blob2)
    assert(shape2 === Seq(2, 3) && back2.toSeq === m.toSeq)
  }
}
