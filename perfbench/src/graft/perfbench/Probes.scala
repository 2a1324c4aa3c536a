package graft.perfbench

import java.nio.file.Path

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ingest.{ControlFile, JsonLog, NewDocuments, ParserInputJson, PdfWatermark, Updates}
import graft.model.Schemas.Update
import org.apache.spark.sql.SparkSession

/** Single-threaded calls into each ingest layer's public per-document
  * functions, on a tree seeded apart from the workload's. Every probe
  * reports its sample count; percentiles are the highest the count
  * supports with ten samples beyond them.
  */
object Probes {

  val PerKind = 100
  val RenderCalls = 2000
  val WatermarkCalls = 1000
  val ControlReps = 3

  private def ms[T](body: => T): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  def run(spark: SparkSession, seed: Long, dir: Path, out: ObjectNode): Unit = {
    val probeSeed = seed * 7919 + 17
    val conf = spark.sparkContext.hadoopConfiguration
    val root = s"file://$dir"
    val cfg = Inputs.config(root)
    val saved = JsonLog.sink
    JsonLog.sink = _ => ()
    try {
      val news = Inputs.newCases(probeSeed, 3 * PerKind + 3 * PerKind / 25, "PROBE")
      val upds = Inputs.updCases(probeSeed, 4 * PerKind + PerKind / 5, "PROBEUPD")
      Inputs.writeTree(dir, news, upds)

      val (fetcher, converter) = (new Inputs.BenchFetcher, new Inputs.BenchConverter)
      for (kind <- Seq("pdf", "docx", "html")) {
        val xs = news.filter(_.kind == kind).take(PerKind).map(c => ms(NewDocuments.processOne(
          c.doc, cfg.documentRoot, fetcher, converter, Inputs.RunTs, conf)))
        percentiles(out, s"NewDocuments.process_one_ms.$kind", xs)
      }
      out.put("NewDocuments.process_one.n", PerKind)

      for (family <- Inputs.Families) {
        val xs = upds.filter(_.family == family).take(PerKind).map { u =>
          val updates = u.updates.map { case (t, s3, db) => Update(t, Some(s3), Some(db)) }
          ms(Updates.updateDocument(u.id, updates, cfg, Inputs.RunTs, conf))
        }
        percentiles(out, s"Updates.doc_ms.$family", xs)
      }
      out.put("Updates.doc.n", PerKind)

      val rendered = news.filter(_.stored.isDefined)
      val renderMs = (0 until RenderCalls).map { i =>
        val c = rendered(i % rendered.size)
        ms(ParserInputJson.render(c.doc, c.cdnKey, c.contentType, c.md5))
      }
      out.put("ParserInputJson.render_ms.p50", Main.median(renderMs))
      out.put("ParserInputJson.render.n", RenderCalls)

      val pdfs = news.take(50).map(c => Inputs.pdf(1 + c.doc.name.length % 3, c.doc.import_id))
      val text = graft.ingest.Converter.watermarkText("https://bench.example/probe.pdf", Inputs.RunTs)
      val wmMs = (0 until WatermarkCalls).map(i =>
        ms(PdfWatermark.addLastPageWatermark(pdfs(i % pdfs.size), text)))
      out.put("PdfWatermark.ms_p50", Main.quantile(wmMs, 0.5))
      out.put("PdfWatermark.ms_p99", Main.quantile(wmMs, 0.99))
      out.put("PdfWatermark.n", WatermarkCalls)

      // the control file the probe tree holds: read + both explodes
      val controlPath = s"${cfg.pipelineRoot}/${Inputs.InputDir}/${Inputs.ControlName}"
      val parse = (1 to ControlReps).map { _ =>
        val t0 = System.nanoTime()
        val control = ControlFile.read(spark, controlPath)
        ControlFile.newDocuments(control).count()
        ControlFile.updatedDocuments(control).count()
        (System.nanoTime() - t0) / 1e9
      }
      out.put("ControlFile.parse_s", Main.median(parse))
    } finally {
      JsonLog.sink = saved
      Inputs.deleteTree(dir)
    }
  }

  private def percentiles(out: ObjectNode, name: String, xs: Seq[Double]): Unit = {
    out.put(s"$name.p50", Main.quantile(xs, 0.5))
    out.put(s"$name.p${Main.tailPercentile(xs.size)}", Main.quantile(xs, Main.tailPercentile(xs.size) / 100.0))
  }
}
