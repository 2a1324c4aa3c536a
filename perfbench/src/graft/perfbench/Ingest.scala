package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.ingest.{IngestJob, NewDocuments, PyJson, Updates}
import graft.model.Schemas.Update
import org.apache.spark.sql.SparkSession

/** `ingest_new` (a control file of new documents) and `ingest_updates`
  * (a seeded cache tree plus a control file of updates): each run is one
  * `IngestJob.run` over a freshly written tree, checked document by
  * document against the generated expectation.
  */
class Ingest(opts: Main.Opts) {
  import Ingest._

  private val isNew = opts.workload match {
    case "ingest_new" => true
    case "ingest_updates" => false
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  private val news = if (isNew) Inputs.newCases(opts.seed, NewDocs) else Vector.empty
  private val upds = if (isNew) Vector.empty else Inputs.updCases(opts.seed, UpdatedDocs)
  private val root = opts.work.resolve("ingest")
  private val pipeline = root.resolve("pipeline")
  // expectations are computed once, before anything is timed
  news.foreach(_.stored)
  private val expectedFiles = upds.map(u => u -> u.expectedFiles)

  private var report: IngestJob.RunReport = _
  private var tracer: Option[Tracer] = None

  /** Control-file documents one run ingests. */
  def docsPerRun: Int = news.size + upds.size
  /** Writes the tree a run consumes (untimed). */
  def reset(): Unit = Inputs.writeTree(root, news, upds)

  /** The timed call: one `IngestJob.run`, through the tracer's wrappers
    * and the `benchfs` scheme when traced.
    */
  def run(spark: SparkSession, trace: Option[Tracer]): Unit = {
    tracer = trace
    val (scheme, fetcher, converter) =
      if (trace.isEmpty) ("file://", new Inputs.BenchFetcher, new Inputs.BenchConverter)
      else ("benchfs://", new TracedFetcher(new Inputs.BenchFetcher),
        new TracedConverter(new Inputs.BenchConverter))
    report = IngestJob.run(spark, Inputs.config(s"$scheme$root"), Inputs.InputDir,
      Inputs.ControlName, fetcher, converter, Inputs.RunTs)
  }

  /** Update actions the control file dispatches, per family (traced runs). */
  def planMetrics: Map[String, Double] = {
    val actions = upds.filter(_.family != "unknown").flatMap { u =>
      Updates.orderActions(u.updates.map { case (t, s3, db) =>
        (Update(t, Some(s3), Some(db)), Updates.dispatch(t)) }).map(_._2)
    }
    Map("Updates.docs" -> upds.size.toDouble) ++
      Inputs.Families.map(f => s"Updates.actions.$f" -> actions.count(_ == f).toDouble)
  }

  private def read(p: Path): Option[Array[Byte]] =
    if (Files.isRegularFile(p)) Some(Files.readAllBytes(p)) else None

  /** Documents whose outcome differs from the expectation, with a few
    * messages.
    */
  def check(): (Int, Seq[String]) = {
    val bad = scala.collection.mutable.LinkedHashMap[String, String]()
    def expect(id: String, ok: Boolean, what: => String): Unit =
      if (!ok && !bad.contains(id)) bad(id) = s"$id: $what"

    val rows = report.results.map(r => r.document_id -> r).toMap
    val written = PyJson.parse(new String(
      Files.readAllBytes(pipeline.resolve(s"${Inputs.InputDir}/reports/ingest/batch_1.json")), UTF_8))
    val reportIds = (0 until written.size).map(i => written.get(i).get("document_id").asText).toSet
    def reportRow(id: String, tpe: String, errorClass: Option[String]): Unit = {
      val row = rows.get(id)
      expect(id, row.isDefined && reportIds(id), "missing from the report")
      row.foreach { r =>
        expect(id, r.ingest_type == tpe, s"type ${r.ingest_type}")
        expect(id, r.error.map(_.takeWhile(_ != ':')) == errorClass, s"error ${r.error}")
      }
    }
    expect("report", rows.size == docsPerRun && reportIds.size == docsPerRun,
      s"report has ${rows.size} rows, file ${reportIds.size}, expected $docsPerRun")

    for (c <- news) {
      val id = c.doc.import_id
      reportRow(id, "new", c.errorClass)
      val pi = read(pipeline.resolve(s"parser_input/$id.json")).map(new String(_, UTF_8))
      expect(id, pi == c.parserInput, s"parser input ${pi.map(_.take(80))}")
      for ((bytes, pages) <- c.stored; key <- c.cdnKey) {
        val stored = read(root.resolve(s"cdn/navigator/$key"))
        expect(id, stored.exists(java.util.Arrays.equals(_, bytes)), s"CDN object $key")
        stored.foreach { b =>
          expect(id, key.contains(NewDocuments.md5Hex(b)), s"key $key lacks the MD5 of its bytes")
          if (c.kind != "pdf")
            expect(id, Inputs.pageCount(b) == pages + 1, s"watermarked page count ${Inputs.pageCount(b)}")
        }
      }
    }
    if (isNew) {
      val cdn = Files.walk(root.resolve("cdn"))
      val n = try cdn.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).count()
        finally cdn.close()
      expect("cdn", n == news.count(_.stored.isDefined), s"$n CDN objects")
    }
    for ((u, files) <- expectedFiles) {
      reportRow(u.id, "updated", u.errorClass)
      for ((rel, exp) <- files) {
        val got = read(pipeline.resolve(rel))
        expect(u.id, got.isDefined == exp.isDefined &&
          got.forall(g => java.util.Arrays.equals(g, exp.get)),
          s"$rel ${if (exp.isEmpty) "not moved" else if (got.isEmpty) "missing" else "content differs"}")
      }
    }
    tracer.foreach { t =>
      val expected = news.map(_.errorLines).sum
      expect("JsonLog", t.errorLines == expected, s"${t.errorLines} error lines, expected $expected")
    }
    (math.min(bad.size, docsPerRun), bad.values.toSeq)
  }
}

object Ingest {
  val NewDocs = 120
  val UpdatedDocs = 100
}
