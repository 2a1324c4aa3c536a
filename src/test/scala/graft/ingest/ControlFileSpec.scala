package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.model.Schemas.Update
import org.apache.spark.sql.DataFrame

/** [[ControlFile.collectRows]] over hermetic control files: the
  * polymorphic update values' JSON strings, absent/`null`/empty lists,
  * several control rows, and a malformed file under FAILFAST.
  */
class ControlFileSpec extends SparkSpec {

  private val dir: Path = Files.createTempDirectory("graft-control")

  private def control(name: String, text: String): DataFrame = {
    Files.write(dir.resolve(name), text.getBytes(UTF_8))
    ControlFile.read(spark, s"file://$dir/$name")
  }

  private def updatesOf(name: String, updates: String): Seq[(String, Seq[Update])] =
    ControlFile.collectRows(control(name,
      s"""{"new_documents": [], "updated_documents": $updates}"""))._2

  // JSON null is a value (the string "null"); an absent field is None
  test("update values: a string, an object, JSON null and absent") {
    val got = updatesOf("values.json",
      """{"D.1": [
        |  {"type": "name", "s3_value": "New name", "db_value": {"a": [1, "x"], "b": null}},
        |  {"type": "description", "s3_value": null},
        |  {"type": "metadata", "db_value": {"nested": {"k": true}}}
        |]}""".stripMargin)
    assert(got === Seq("D.1" -> Seq(
      Update("name", Some("\"New name\""), Some("""{"a":[1,"x"],"b":null}""")),
      Update("description", Some("null"), None),
      Update("metadata", None, Some("""{"nested":{"k":true}}""")))))
    // the same values as the one-row-per-document relation
    import spark.implicits._
    assert(ControlFile.updatedDocuments(ControlFile.read(spark, s"file://$dir/values.json"))
      .as[(String, Seq[Update])].collect().toSeq === got)
  }

  test("an integer-valued decimal loses its .0; other decimals keep their digits") {
    val got = updatesOf("decimals.json",
      """{"D.1": [{"type": "metadata", "s3_value": 10000000.0,
        |  "db_value": {"x": 10000000.0, "y": 2.5}}]}""".stripMargin)
    assert(got === Seq("D.1" -> Seq(
      Update("metadata", Some("10000000"), Some("""{"x":10000000,"y":2.5}""")))))
  }

  test("absent, null and empty lists add nothing") {
    for ((name, text) <- Seq(
        "absent.json" -> "{}",
        "null.json" -> """{"new_documents": null, "updated_documents": null}""",
        "empty.json" -> """{"new_documents": [], "updated_documents": {}}""")) {
      assert(ControlFile.collectRows(control(name, text)) === ((Nil, Nil)), name)
    }
  }

  test("two control rows flatten in row order") {
    import IngestCacheSpec.newDoc
    val a = control("a.json", s"""{"new_documents": [${newDoc(1, "null")},
      |${newDoc(2, "null")}], "updated_documents": {"D.2": [{"type": "name",
      |"s3_value": "b"}], "D.1": [{"type": "name", "s3_value": "a"}]}}""".stripMargin)
    val b = control("b.json", s"""{"new_documents": [${newDoc(3, "null")}],
      |"updated_documents": {"D.3": [{"type": "name", "s3_value": "c"}]}}""".stripMargin)
    val (docs, updates) = ControlFile.collectRows(a.union(b))
    assert(docs.map(_.import_id) ===
      Seq("SPEC.executive.1.1", "SPEC.executive.2.1", "SPEC.executive.3.1"))
    assert(docs.head.name === "Document 1" && docs.head.languages === Seq("en"))
    assert(updates === Seq(
      "D.2" -> Seq(Update("name", Some("\"b\""), None)),
      "D.1" -> Seq(Update("name", Some("\"a\""), None)),
      "D.3" -> Seq(Update("name", Some("\"c\""), None))))
  }

  test("a malformed control file fails under FAILFAST") {
    val bad = control("bad.json", """{"new_documents": [ {"name": """)
    intercept[Exception](ControlFile.collectRows(bad))
    val wrongType = control("wrong.json", """{"new_documents": {"name": "x"}}""")
    intercept[Exception](ControlFile.collectRows(wrongType))
  }
}
