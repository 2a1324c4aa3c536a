package graft.ingest

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

object ConverterSelectSpec {
  /** A one-page PDF that [[PdfWatermark]] can parse. */
  def onePagePdf(label: String): Array[Byte] = {
    val content = s"% $label\n0 0 m 612 792 l S"
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
        "/Contents 4 0 R /Resources << >> >>",
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
    val out = new StringBuilder("%PDF-1.4\n")
    val offsets = objs.zipWithIndex.map { case (body, i) =>
      val off = out.length
      out.append(s"${i + 1} 0 obj\n$body\nendobj\n")
      off
    }
    val xref = out.length
    out.append(s"xref\n0 ${objs.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => out.append(f"$o%010d 00000 n \n"))
    out.append(s"trailer\n<< /Size ${objs.size + 1} /Root 1 0 R >>\n")
      .append(s"startxref\n$xref\n%%EOF\n")
    out.toString.getBytes(ISO_8859_1)
  }

  /** Stands in for [[ProcessConverter]] where soffice and chromium are
    * absent: valid PDFs, watermarked by the production [[PdfWatermark]].
    */
  class ValidPdfConverter extends Converter {
    override def docToPdf(content: Array[Byte]): Array[Byte] = onePagePdf("doc")
    override def capturePdfFromUrl(url: String): (Array[Byte], Option[String]) =
      (onePagePdf(url), None)
    override def addLastPageWatermark(pdf: Array[Byte], text: String): Array[Byte] =
      PdfWatermark.addLastPageWatermark(pdf, text)
  }
}

/** [[Converter.select]] over every (soffice, chromium) availability: one
  * DOCX and one HTML document each convert and watermark without error,
  * on the real side as a two-page PDF and on the stub side as stub bytes.
  */
class ConverterSelectSpec extends AnyFunSuite {
  import ConverterSelectSpec._

  private val url = "https://spec.example/page.html"
  private val text = Converter.watermarkText(url, Instant.parse("2024-01-01T00:00:00Z"))

  private def assertWatermarked(out: Array[Byte], real: Boolean): Unit =
    if (real) assert(new PdfWatermark.Doc(out).pageLeafCount === 2)
    else {
      assert(StubConverter.isStubPdf(out))
      assert(new String(out, UTF_8).endsWith(
        s"% watermark: ${text.replace("\n", " ")}\n"))
    }

  for (haveSoffice <- Seq(true, false); haveChromium <- Seq(true, false))
    test(s"soffice=$haveSoffice chromium=$haveChromium: DOCX and HTML watermark") {
      val conv = Converter.select(haveSoffice, haveChromium,
        new ValidPdfConverter, new StubConverter)
      val docx = "PK\u0003\u0004word/document.xml".getBytes(ISO_8859_1)
      assertWatermarked(
        conv.addLastPageWatermark(conv.docToPdf(docx), text), haveSoffice)
      assertWatermarked(
        conv.addLastPageWatermark(conv.capturePdfFromUrl(url)._1, text), haveChromium)
    }
}
