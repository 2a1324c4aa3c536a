package graft.perfbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant

import graft.functions.{FileNames, Slugify}
import graft.ingest.{Converter, FetchResponse, Fetcher, NewDocuments, ParserInputJson, PdfWatermark, PyJson}
import graft.model.Mappings
import graft.model.Schemas.{BackendDocument, DocMeta, UpdateConfig}

/** Seeded inputs for the ingest workloads and the expectation each run's
  * outputs are checked against. A seed fixes every id, name, URL and
  * value; the per-kind counts are fixed so every seed does the same
  * amount of work.
  */
object Inputs {

  val RunTs: Instant = Instant.parse("2024-01-01T00:00:00Z")
  val ArchiveTs = "2024-01-01-00-00-00"
  val ControlName = "new_and_updated_documents.json"
  val InputDir = "input/bench-run"

  def config(root: String): UpdateConfig =
    UpdateConfig(pipelineRoot = s"$root/pipeline", documentRoot = s"$root/cdn")

  /** Minimal valid PDF: `pages` pages, classic xref table. */
  def pdf(pages: Int, label: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def obj(body: String): Unit = {
      offsets += out.size()
      out.write(s"${offsets.size} 0 obj\n$body\nendobj\n".getBytes(ISO_8859_1))
    }
    out.write("%PDF-1.4\n".getBytes(ISO_8859_1))
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    val kids = (0 until pages).map(k => s"${3 + 2 * k} 0 R").mkString(" ")
    obj(s"<< /Type /Pages /Kids [ $kids ] /Count $pages >>")
    (0 until pages).foreach { k =>
      obj(s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
        s"/Contents ${4 + 2 * k} 0 R /Resources << >> >>")
      val content = s"% $label page $k\n0 0 m 612 792 l S"
      obj(s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    }
    val xref = out.size()
    val sb = new StringBuilder(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => sb.append(f"$o%010d 00000 n \n"))
    sb.append(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\n")
      .append(s"startxref\n$xref\n%%EOF\n")
    out.write(sb.toString.getBytes(ISO_8859_1))
    out.toByteArray
  }

  def pageCount(pdfBytes: Array[Byte]): Int =
    new PdfWatermark.Doc(pdfBytes).pageLeafCount

  private def pagesFor(key: String): Int = 1 + (key.hashCode & 0x7fffffff) % 3

  /** Response body the bench fetcher serves for `url`, by extension. */
  def fetchBody(url: String): Array[Byte] =
    if (url.endsWith(".pdf")) pdf(pagesFor(url), url)
    else if (url.endsWith(".docx"))
      ("PK\u0003\u0004[Content_Types].xml word/document.xml " + url).getBytes(ISO_8859_1)
    else s"<!doctype html><html><body>$url</body></html>".getBytes(UTF_8)

  /** Serves deterministic bytes from memory: no network. */
  class BenchFetcher extends Fetcher {
    override def get(url: String): FetchResponse = FetchResponse(200, fetchBody(url),
      if (url.endsWith(".html")) "text/html; charset=utf-8" else "")
  }

  /** Returns small valid PDFs and watermarks them with the production
    * [[PdfWatermark.addLastPageWatermark]].
    */
  class BenchConverter extends Converter {
    override def docToPdf(content: Array[Byte]): Array[Byte] = {
      val key = new String(content, ISO_8859_1)
      pdf(pagesFor(key), s"doc ${NewDocuments.md5Hex(content)}")
    }
    override def capturePdfFromUrl(url: String): (Array[Byte], Option[String]) =
      (pdf(pagesFor(url), s"capture $url"), None)
    override def addLastPageWatermark(pdfBytes: Array[Byte], text: String): Array[Byte] =
      PdfWatermark.addLastPageWatermark(pdfBytes, text)
  }

  // ---- new documents---------------------------------------------------

  /** One generated new document and what the job must make of it.
    * `kind` is pdf | docx | html | skip | invalid.
    */
  case class NewCase(doc: BackendDocument, kind: String) {
    def fetchUrl: Option[String] = doc.download_url
    /** Stored CDN bytes and their source page count (watermarked kinds). */
    lazy val stored: Option[(Array[Byte], Int)] = kind match {
      case "pdf" => val b = fetchBody(fetchUrl.get); Some((b, pageCount(b)))
      case "docx" | "html" =>
        val conv = new BenchConverter
        val url = fetchUrl.get
        val raw =
          if (kind == "docx") conv.docToPdf(fetchBody(url))
          else conv.capturePdfFromUrl(url)._1
        Some((conv.addLastPageWatermark(raw, Converter.watermarkText(url, RunTs)),
          pageCount(raw)))
      case _ => None
    }
    def contentType: Option[String] = kind match {
      case "pdf" => Some(Mappings.ContentTypePdf)
      case "docx" => Some(Mappings.ContentTypeDocx)
      case "html" => Some(Mappings.ContentTypeHtml)
      case _ => None
    }
    def md5: Option[String] = stored.map(s => NewDocuments.md5Hex(s._1))
    def cdnKey: Option[String] = md5.map { h =>
      val year = doc.publication_ts.toInstant.atOffset(java.time.ZoneOffset.UTC).getYear
      FileNames.createFileNameForUpload(h, Slugify.slugify(doc.name), ".pdf",
        s"${doc.geography}/$year").dropWhile(_ == '/')
    }
    def parserInput: Option[String] =
      if (kind == "invalid") None
      else Some(ParserInputJson.render(doc, cdnKey, contentType, md5))
    /** Expected report error class, and JsonLog error lines. */
    def errorClass: Option[String] =
      if (kind == "invalid") Some("IllegalArgumentException") else None
    def errorLines: Int = if (kind == "invalid") 2 else 0
  }

  private val Geos = Vector("IDN", "GBR", "BRA", "KEN", "USA", "IND")
  private val Words = Vector("climate", "policy", "energy", "adaptation",
    "finance", "transport", "forest", "water", "coastal", "carbon")

  /** `n` new documents: a third each PDF, DOCX and HTML, minus a 2 %
    * share each of empty-URL skips and invalid-URL rows.
    */
  def newCases(seed: Long, n: Int, idPrefix: String = "BENCH"): Vector[NewCase] = {
    val rng = new scala.util.Random(seed)
    val odd = math.max(1, n / 50)
    val kinds = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle(Vector.fill(odd)("skip") ++ Vector.fill(odd)("invalid") ++
        (0 until n - 2 * odd).map(i => Vector("pdf", "docx", "html")(i % 3)))
    kinds.zipWithIndex.map { case (kind, i) =>
      val tag = f"${rng.nextInt(1 << 30)}%x"
      val name = (0 until 3 + rng.nextInt(6)).map(_ => Words(rng.nextInt(Words.size)))
        .mkString(" ").capitalize + s" $tag"
      val ext = if (Set("pdf", "docx", "html")(kind)) kind else "pdf"
      val url = s"https://bench.example/$tag/doc$i.$ext"
      val id = s"$idPrefix.executive.$i.$tag"
      NewCase(BackendDocument(
        publication_ts = Timestamp.from(Instant.parse(s"${2000 + rng.nextInt(24)}-0${1 + rng.nextInt(9)}-1${rng.nextInt(10)}T00:00:00Z")),
        name = name,
        description = s"generated document $i for seed $seed",
        source_url = kind match {
          case "skip" => None
          case "invalid" => Some(s"not a url $tag")
          case _ => Some(url)
        },
        download_url = if (kind == "skip" || kind == "invalid") None else Some(url),
        url = None, md5_sum = None, `type` = "Law", source = "BENCH",
        import_id = id, family_import_id = s"$idPrefix.family.$i.0",
        category = "Law", geography = Geos(rng.nextInt(Geos.size)),
        languages = Seq("en"),
        metadata = DocMeta(keywords = Seq(Words(rng.nextInt(Words.size))),
          sectors = Seq("Energy")),
        slug = Slugify.slugify(name), family_slug = s"family-$tag"), kind)
    }
  }

  private def js(s: Option[String]): String = s.fold("null")(v => PyJson.dumps(PyJson.mapper.getNodeFactory.textNode(v)))
  private def arr(xs: Seq[String]): String = xs.map(x => js(Some(x))).mkString("[", ", ", "]")

  def docJson(d: BackendDocument): String = {
    val ts = d.publication_ts.toInstant.toString.stripSuffix("Z")
    val m = d.metadata
    s"""{"publication_ts": "$ts", "name": ${js(Some(d.name))}, """ +
      s""""description": ${js(Some(d.description))}, "source_url": ${js(d.source_url)}, """ +
      s""""download_url": ${js(d.download_url)}, "url": null, "md5_sum": null, """ +
      s""""type": "${d.`type`}", "source": "${d.source}", "import_id": "${d.import_id}", """ +
      s""""family_import_id": "${d.family_import_id}", "category": "${d.category}", """ +
      s""""geography": "${d.geography}", "languages": ${arr(d.languages)}, """ +
      s""""metadata": {"hazards": ${arr(m.hazards)}, "frameworks": ${arr(m.frameworks)}, """ +
      s""""instruments": ${arr(m.instruments)}, "keywords": ${arr(m.keywords)}, """ +
      s""""sectors": ${arr(m.sectors)}, "topics": ${arr(m.topics)}}, """ +
      s""""slug": "${d.slug}", "family_slug": "${d.family_slug}"}"""
  }

  // ---- updates ----------------------------------------------------

  /** Update families: the dispatch family each generated document's
    * update list resolves to, plus `unknown`, whose update type does not
    * dispatch and makes the document an expected row error.
    */
  val Families: Vector[String] = Vector(Mappings.Actions.Parse,
    Mappings.Actions.UpdateDontParse, Mappings.Actions.Reparse,
    Mappings.Actions.UpdateFieldInAllOccurences)

  /** One cached document with its update list. `files` maps a path
    * relative to the pipeline root to its seeded content.
    */
  case class UpdCase(id: String, family: String, updates: Seq[(String, String, String)],
      files: Map[String, Array[Byte]]) {
    def errorClass: Option[String] =
      if (family == "unknown") Some("IllegalArgumentException") else None

    /** Pipeline-relative path → expected content after the job; paths
      * the job must have moved away map to None.
      */
    def expectedFiles: Map[String, Option[Array[Byte]]] = {
      def archived(prefix: String, suffix: String) =
        s"archive/$prefix/$id/$ArchiveTs.$suffix"
      val state = scala.collection.mutable.LinkedHashMap[String, Option[Array[Byte]]]()
      files.foreach { case (p, b) => state(p) = Some(b) }
      def edit(path: String, field: String, valueJson: String): Array[Byte] = {
        val o = PyJson.parse(new String(state(path).get, UTF_8))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        o.set[com.fasterxml.jackson.databind.JsonNode](field, PyJson.parse(valueJson))
        PyJson.dumps(o).getBytes(UTF_8)
      }
      def move(src: String, dst: String): Unit = state.get(src).flatten.foreach { b =>
        state(src) = None; state(dst) = Some(b)
      }
      def jsons(prefixes: Seq[String]) = for (p <- prefixes;
        f <- Seq(s"$p/$id.json", s"$p/${id}_translated_en.json") if state.get(f).exists(_.isDefined)) yield f
      val pfx = Seq("parser_input", "embeddings_input", "indexer_input")
      def moveAll(prefixes: Seq[String]): Unit =
        for (p <- prefixes; s <- Seq("json", "npy"); f <- Seq(s"$p/$id.$s", s"$p/${id}_translated_en.$s"))
          move(f, archived(p, s))
      def editAll(prefixes: Seq[String], tpe: String, v: String): Unit =
        jsons(prefixes).foreach(f =>
          state(f) = Some(edit(f, Mappings.PipelineFieldMapping(tpe), v)))
      family match {
        case Mappings.Actions.Parse => moveAll(pfx)
        case Mappings.Actions.Reparse => moveAll(pfx.tail)
        case Mappings.Actions.UpdateFieldInAllOccurences =>
          updates.foreach { case (t, _, db) => editAll(pfx, t, db) }
        case Mappings.Actions.UpdateDontParse =>
          updates.foreach { case (t, _, db) =>
            editAll(pfx.take(2), t, db)
            Seq("npy", "json").foreach(s => move(s"indexer_input/$id.$s", archived("indexer_input", s)))
          }
        case _ => ()
      }
      state.toMap
    }

    def controlEntry: String = "\"" + id + "\": " + updates.map { case (t, s3, db) =>
      s"""{"type": "$t", "s3_value": $s3, "db_value": $db}"""
    }.mkString("[", ", ", "]")
  }

  /** `n` cached documents; families cycle through [[Families]] with a
    * 4 % unknown-type share, and a third of the documents also carry
    * `_translated_en` variants.
    */
  def updCases(seed: Long, n: Int, idPrefix: String = "BENCHUPD"): Vector[UpdCase] = {
    val rng = new scala.util.Random(seed)
    val unknown = math.max(1, n / 25)
    val fams = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle(Vector.fill(unknown)("unknown") ++ (0 until n - unknown).map(i => Families(i % 4)))
    val translated = scala.util.Random.javaRandomToRandom(new java.util.Random(seed + 1))
      .shuffle(Vector.tabulate(n)(_ % 3 == 0))
    fams.zipWithIndex.map { case (family, i) =>
      val tag = f"${rng.nextInt(1 << 30)}%x"
      val id = s"$idPrefix.executive.$i.$tag"
      val q = (s: String) => "\"" + s + "\""
      val updates: Seq[(String, String, String)] = family match {
        case Mappings.Actions.Parse => Seq(
          ("source_url", q(s"https://bench.example/cached/$tag.pdf"), q(s"https://bench.example/moved/$tag.pdf")),
          ("name", q(s"Cached name $tag"), q(s"Renamed $tag")))
        case Mappings.Actions.UpdateDontParse => Seq(
          ("description", q(s"cached description $tag"), q(s"new description $tag ${rng.nextInt(1000)}")),
          ("metadata", """{"keywords": ["bench"]}""", s"""{"keywords": ["bench", "k$tag"]}"""))
        case Mappings.Actions.Reparse => Seq(("reparse", "null", "null"))
        case Mappings.Actions.UpdateFieldInAllOccurences => Seq(
          ("slug", q(s"cached-slug-$tag"), q(s"new-slug-$tag")))
        case _ => Seq(("not_an_update_type", "null", q(s"x$tag")))
      }
      val json =
        s"""{"document_id": "$id", "document_name": "Cached name $tag", """ +
          s""""document_description": "cached description $tag", """ +
          s""""document_source_url": "https://bench.example/cached/$tag.pdf", """ +
          s""""document_metadata": {"keywords": ["bench"]}, "document_slug": "cached-slug-$tag", """ +
          s""""document_content_type": "application/pdf", "pipeline_extra": {"pages": ${1 + rng.nextInt(90)}}}"""
      val variants = if (translated(i)) Seq(id, s"${id}_translated_en") else Seq(id)
      val files = (for (v <- variants; p <- Seq("parser_input", "embeddings_input", "indexer_input"))
        yield s"$p/$v.json" -> json.replace(id, v).getBytes(UTF_8)) ++
        variants.map(v => s"indexer_input/$v.npy" -> Array.fill[Byte](128 + rng.nextInt(128))(0x42))
      UpdCase(id, family, updates, files.toMap)
    }
  }

  // ---- trees -----------------------------------------------------------

  /** Writes the control file (and, for updates, the seeded cache) under
    * `root/pipeline`, clearing whatever a previous run left there.
    */
  def writeTree(root: Path, news: Seq[NewCase], upds: Seq[UpdCase]): Unit = {
    deleteTree(root)
    val pipeline = root.resolve("pipeline")
    val control = news.map(c => docJson(c.doc)).mkString("{\"new_documents\": [", ", ", "], ") +
      upds.map(_.controlEntry).mkString("\"updated_documents\": {", ", ", "}}")
    val inputDir = pipeline.resolve(InputDir)
    Files.createDirectories(inputDir)
    Files.write(inputDir.resolve(ControlName), control.getBytes(UTF_8))
    val dirs = scala.collection.mutable.Set[Path]()
    for (u <- upds; (rel, bytes) <- u.files) {
      val p = pipeline.resolve(rel)
      if (dirs.add(p.getParent)) Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(root)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
  }
}
