package graft.ingest

import graft.model.Schemas.UpdateConfig
import org.scalatest.funsuite.AnyFunSuite

/** [[IngestMain.parseArgs]]: defaults fill in, and a bad command line
  * fails with a message naming the problem and the accepted options.
  */
class IngestMainSpec extends AnyFunSuite {

  private val required = Seq("--pipeline-root", "file:///p/", "--document-root",
    "file:///d", "--input-dir-path", "input/run")

  private def failure(args: String*): String =
    intercept[IllegalArgumentException](IngestMain.parseArgs(args)).getMessage

  test("required options alone take every default") {
    assert(IngestMain.parseArgs(required) === IngestMain.Args(
      UpdateConfig("file:///p", "file:///d"), "input/run",
      "new_and_updated_documents.json"))
  }

  test("every optional option is read") {
    val args = IngestMain.parseArgs(required ++ Seq(
      "--updates-file-name", "u.json", "--output-prefix", "pi",
      "--embeddings-input-prefix", "ei", "--indexer-input-prefix", "ii",
      "--archive-prefix", "ar"))
    assert(args === IngestMain.Args(UpdateConfig("file:///p", "file:///d",
      parserInputPrefix = "pi", embeddingsInputPrefix = "ei",
      indexerInputPrefix = "ii", archivePrefix = "ar"), "input/run", "u.json"))
  }

  test("an unknown option fails, naming it and the accepted options") {
    val msg = failure(required ++ Seq("--output-prefx", "foo"): _*)
    assert(msg.startsWith("unknown option --output-prefx;"))
    assert(msg.contains("--output-prefix") && msg.contains("--archive-prefix"))
  }

  test("a missing, valueless or repeated option fails") {
    assert(failure(required.drop(2): _*).startsWith(
      "missing required option --pipeline-root;"))
    assert(failure(required :+ "--archive-prefix": _*).startsWith(
      "option --archive-prefix has no value;"))
    assert(failure(required ++ required.take(2): _*).startsWith(
      "an option is given more than once;"))
    assert(failure("stray" +: required: _*).startsWith("unknown option stray;"))
  }
}
