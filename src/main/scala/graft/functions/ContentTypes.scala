package graft.functions

import graft.model.Mappings
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Three-stage content-type detection (reference `base/utils.py:64-95`):
  *
  *   1. magic bytes of the downloaded content,
  *   2. file extension of the source URL (substring after the last '.'),
  *   3. `Content-Type` response header with any `;charset=...` stripped.
  *
  * Returns "" when nothing matches. Stage 1 mirrors what the reference's
  * `filetype` library actually detects for its corpus: PDF and zip-based
  * OOXML; legacy OLE2 `.doc` and HTML are *not* magic-detectable and fall
  * through to stages 2/3 (see the reference's own 14-case table,
  * `tests/test_utils.py:20-134`).
  */
object ContentTypes {

  /** Magic-byte sniff over the first bytes of the content; None if unknown. */
  def sniffMagic(content: Array[Byte]): Option[String] = {
    if (content == null || content.length < 4) return None
    def startsWith(sig: Array[Int]): Boolean =
      sig.zipWithIndex.forall { case (b, i) =>
        i < content.length && (content(i) & 0xff) == b
      }
    if (startsWith(Array('%', 'P', 'D', 'F'))) Some(Mappings.ContentTypePdf)
    // OOXML (.docx) is a zip; the reference's `filetype` identifies it by
    // the zip local-file header + [Content_Types].xml member name.
    else if (startsWith(Array(0x50, 0x4b, 0x03, 0x04)) &&
      new String(content, java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains("[Content_Types].xml")) Some(Mappings.ContentTypeDocx)
    else if (startsWith(Array(0x89, 'P', 'N', 'G'))) Some("image/png")
    else if (startsWith(Array(0xff, 0xd8, 0xff))) Some("image/jpeg")
    else if (startsWith(Array('G', 'I', 'F', '8'))) Some("image/gif")
    else None
  }

  /** Stage 2: content type from URL extension (everything after the last
    * '.'), via the reversed extension map; None when absent/unknown.
    */
  def fromExtension(url: String): Option[String] = {
    if (url == null) return None
    val i = url.lastIndexOf('.')
    if (i < 0) None else Mappings.ContentTypeMapping.get(url.substring(i))
  }

  /** Stage 3: normalize a Content-Type header ("text/html; charset=utf-8"
    * → "text/html"); empty string when the header is empty.
    */
  def fromHeader(header: String): String =
    if (header == null) "" else header.split(";")(0).trim

  /** Full three-stage fallback (pure Scala). */
  def determine(content: Array[Byte], url: String, header: String): String =
    sniffMagic(content)
      .orElse(fromExtension(url))
      .getOrElse(fromHeader(header))

  private val sniffUdf =
    udf((b: Array[Byte]) => sniffMagic(b).orNull)

  /** Column form of stage 1. */
  def sniffMagicCol(content: Column): Column = sniffUdf(content)

  /** Column form of stage 2, built from codegen'd builtins: a literal
    * extension→mime map probed with the URL's trailing extension.
    */
  def fromExtensionCol(url: Column): Column = {
    val m = map(Mappings.ContentTypeMapping.toSeq
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val ext = regexp_extract(url, "(\\.[^./]*)$", 1)
    element_at(m, when(ext =!= "", ext).otherwise(" "))
  }
}
