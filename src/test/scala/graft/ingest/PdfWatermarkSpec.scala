package graft.ingest

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.zip.Deflater
import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference's watermark contract
  * (`tests/test_pdf_conversion.py:49-69` `test_add_last_page_watermark`):
  * the watermarked PDF has page_count + 1 pages, the appended page has the
  * same dimensions as the previous last page, and its extracted text
  * equals the watermark text after whitespace normalization — run against
  * the reference's own 54-page LibreOffice fixture PDF, plus two synthetic
  * files that need no reference data: a classic-xref PDF 1.4 twin of the
  * fixture's cases (nested page tree, inherited /MediaBox) and a PDF 1.5
  * file (cross-reference stream + object stream) covering the modern xref
  * flavor the fixture doesn't.
  */
class PdfWatermarkSpec extends AnyFunSuite {

  private val fixture = Paths.get(
    "/root/reference/src/navigator_data_ingest/tests/fixtures/" +
      "sample-for-word-to-pdf-conversion.pdf")

  /** The reference test's normalization:
    * `.strip().replace("\n", " ").replace("  ", " ")`.
    */
  private def norm(s: String): String =
    s.trim.replace("\n", " ").replace("  ", " ")

  private def contract(pdf: Array[Byte], text: String): Array[Byte] = {
    val before = new PdfWatermark.Doc(pdf)
    val nPages = before.pageLeafCount
    val (w, h) = before.lastPageSize

    val out = PdfWatermark.addLastPageWatermark(pdf, text)

    // incremental update: original bytes survive as a strict prefix
    assert(out.take(pdf.length).sameElements(pdf))

    val after = new PdfWatermark.Doc(out)
    assert(after.pageLeafCount === nPages + 1)
    assert(after.lastPageSize === ((w, h)))
    val extracted = PdfWatermark.extractTjText(after.lastPageContent)
    assert(norm(extracted) === norm(text))
    out
  }

  test("reference fixture: page count + 1, same dims, exact text") {
    val pdf = Files.readAllBytes(fixture)
    val text = Converter.watermarkText("https://example.com",
      Instant.parse("2023-01-01T12:00:00Z"))
    val out = contract(pdf, text)
    // watermarking the watermarked file exercises the /Prev chain through
    // our own appended xref section
    contract(out, text)
  }

  test("watermark text matches the reference template") {
    val t = Converter.watermarkText("https://example.com/doc.html",
      Instant.parse("2023-03-05T00:00:00Z"))
    assert(t ===
      "Original publicly accessible source: https://example.com/doc.html.\n\n" +
        "This PDF was created by Climate Policy Radar " +
        "(climatepolicyradar.org) on 05 March 2023.\n\n" +
        "For non-commercial use only. Reach out to us at " +
        "support@climatepolicyradar.org if you have any enquiries.")
  }

  test("long text word-wraps within the margin box") {
    val pdf = Files.readAllBytes(fixture)
    val text = ("Original publicly accessible source: https://example.com/" +
      "a-very-long-path-segment-that-will-not-fit-on-one-line/" +
      "and-some-more.pdf.\n\n" + ("word " * 200).trim)
    contract(pdf, text)
  }

  test("hermetic classic-xref PDF: nested page tree, inherited MediaBox, watermarked twice") {
    val pdf = buildClassicXrefPdf()
    val doc = new PdfWatermark.Doc(pdf)
    assert(!doc.xrefIsStream)
    assert(doc.pageLeafCount === 3)
    assert(doc.lastPageSize === ((595.0, 842.0)))
    assert(new String(doc.lastPageContent, ISO_8859_1) === "BT /F0 12 Tf (page 3) Tj ET")
    val text = Converter.watermarkText("https://example.com",
      Instant.parse("2023-01-01T12:00:00Z"))
    val out = contract(pdf, text)
    // the second run follows the /Prev chain through the section the
    // first run appended, which must itself be a classic xref table
    assert(!new PdfWatermark.Doc(out).xrefIsStream)
    val twice = contract(out, text)
    assert(new PdfWatermark.Doc(twice).pageLeafCount === 5)
  }

  test("long text word-wraps within the margin box (hermetic classic-xref PDF)") {
    val text = ("Original publicly accessible source: https://example.com/" +
      "a-very-long-path-segment-that-will-not-fit-on-one-line/" +
      "and-some-more.pdf.\n\n" + ("word " * 200).trim)
    contract(buildClassicXrefPdf(), text)
  }

  /** Builds a 3-page PDF 1.4 file with a classic xref table. The root
    * /Pages node carries the only /MediaBox (A4) and two intermediate
    * /Pages nodes hold the leaves, so the last page inherits its size
    * through two levels.
    */
  private def buildClassicXrefPdf(): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def obj(body: String): Unit = {
      offsets += out.size()
      w(s"${offsets.size} 0 obj\n$body\nendobj\n")
    }
    def stream(content: String): String =
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream"
    w("%PDF-1.4\n")
    obj("<< /Type /Catalog /Pages 2 0 R >>")                              // 1
    obj("<< /Type /Pages /Kids [ 3 0 R 4 0 R ] /Count 3 " +
      "/MediaBox [ 0 0 595 842 ] >>")                                      // 2
    obj("<< /Type /Pages /Parent 2 0 R /Kids [ 5 0 R 6 0 R ] /Count 2 >>") // 3
    obj("<< /Type /Pages /Parent 2 0 R /Kids [ 7 0 R ] /Count 1 >>")       // 4
    for ((parent, i) <- Seq(3, 3, 4).zipWithIndex)                        // 5-7
      obj(s"<< /Type /Page /Parent $parent 0 R /Contents ${8 + i} 0 R >>")
    for (page <- 1 to 3) obj(stream(s"BT /F0 12 Tf (page $page) Tj ET"))  // 8-10
    val xrefOff = out.size()
    w(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(off => w(f"$off%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  test("xref-stream + object-stream PDF (modern flavor)") {
    val pdf = buildXrefStreamPdf()
    val doc = new PdfWatermark.Doc(pdf)
    assert(doc.pageLeafCount === 1)
    assert(doc.lastPageSize === ((612.0, 792.0)))
    val out = contract(pdf, "Hello stream world.\n\nSecond paragraph.")
    // the update to a stream-xref file must itself use a stream xref
    val tail = new String(out.drop(pdf.length), ISO_8859_1)
    assert(tail.contains("/Type /XRef"))
  }

  /** Builds a minimal 1-page PDF 1.5 file: catalog + pages live inside a
    * FlateDecode'd /ObjStm; the xref is a cross-reference stream with
    * type-2 entries pointing into it.
    */
  private def buildXrefStreamPdf(): Array[Byte] = {
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new Deflater()
      d.setInput(b); d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](1024)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    }
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.5\n")
    // obj 1: content stream of the single page
    val off1 = out.size()
    val content = "BT /F0 12 Tf (hi) Tj ET"
    w(s"1 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
    // obj 2: page leaf (regular object)
    val off2 = out.size()
    w("2 0 obj\n<< /Type /Page /Parent 4 0 R " +
      "/MediaBox [ 0 0 612 792 ] /Contents 1 0 R >>\nendobj\n")
    // obj 5: object stream holding catalog (obj 3) and pages (obj 4)
    val o3 = "<< /Type /Catalog /Pages 4 0 R >>"
    val o4 = "<< /Type /Pages /Kids [ 2 0 R ] /Count 1 >>"
    val header = s"3 0 4 ${o3.length + 1} "
    val payload = (header + o3 + " " + o4).getBytes(ISO_8859_1)
    val zipped = deflate(payload)
    val off5 = out.size()
    w(s"5 0 obj\n<< /Type /ObjStm /N 2 /First ${header.length} " +
      s"/Length ${zipped.length} /Filter /FlateDecode >>\nstream\n")
    out.write(zipped)
    w("\nendstream\nendobj\n")
    // obj 6: cross-reference stream (/W [1 4 2], no filter)
    val offX = out.size()
    val rows = Seq[(Int, Long, Int)](    // (type, field2, field3)
      (0, 0L, 65535),                    // obj 0: free
      (1, off1.toLong, 0), (1, off2.toLong, 0), // objs 1-2: offsets
      (2, 5L, 0), (2, 5L, 1),            // objs 3-4: in ObjStm 5 at idx 0/1
      (1, off5.toLong, 0), (1, offX.toLong, 0)) // obj 5, 6 (self)
    val body = new ByteArrayOutputStream()
    rows.foreach { case (t, f2, f3) =>
      body.write(t)
      body.write(((f2 >> 24) & 0xff).toInt); body.write(((f2 >> 16) & 0xff).toInt)
      body.write(((f2 >> 8) & 0xff).toInt); body.write((f2 & 0xff).toInt)
      body.write((f3 >> 8) & 0xff); body.write(f3 & 0xff)
    }
    w(s"6 0 obj\n<< /Type /XRef /Size 7 /W [ 1 4 2 ] /Index [ 0 7 ] " +
      s"/Root 3 0 R /Length ${body.size()} >>\nstream\n")
    out.write(body.toByteArray)
    w(s"\nendstream\nendobj\nstartxref\n$offX\n%%EOF\n")
    out.toByteArray
  }
}
