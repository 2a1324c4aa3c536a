package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.model.Mappings.Actions
import graft.model.Schemas.{Update, UpdateConfig, UpdateResult}
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** Unit tables for the update path, ported from the reference's own
  * dispatch/ordering tests (`tests/test_update_actions.py:18-38`) plus
  * file-level post-state checks against a file:// cache tree
  * (`tests/test_update_actions.py:40-181`).
  */
class UpdateActionsSpec extends AnyFunSuite {

  private val conf = new Configuration()

  test("dispatch table matches the reference (7 update types)") {
    assert(Updates.dispatch("source_url") === Actions.Parse)
    assert(Updates.dispatch("reprocess") === Actions.Parse)
    assert(Updates.dispatch("name") === Actions.UpdateDontParse)
    assert(Updates.dispatch("description") === Actions.UpdateDontParse)
    assert(Updates.dispatch("metadata") === Actions.UpdateDontParse)
    assert(Updates.dispatch("slug") === Actions.UpdateFieldInAllOccurences)
    assert(Updates.dispatch("reparse") === Actions.Reparse)
    val e = intercept[IllegalArgumentException](Updates.dispatch("bogus"))
    assert(e.getMessage.contains("not a valid UpdateTypes"))
  }

  test("order_actions: parse short-circuits; update_dont_parse sorts last, stable") {
    def u(t: String) = Update(t, None, None)
    // any parse → only the FIRST parse action survives
    val withParse = Seq(
      (u("name"), Actions.UpdateDontParse),
      (u("source_url"), Actions.Parse),
      (u("reprocess"), Actions.Parse))
    assert(Updates.orderActions(withParse) ===
      Seq((u("source_url"), Actions.Parse)))
    // no parse → stable sort, update_dont_parse last
    val noParse = Seq(
      (u("name"), Actions.UpdateDontParse),
      (u("slug"), Actions.UpdateFieldInAllOccurences),
      (u("description"), Actions.UpdateDontParse),
      (u("reparse"), Actions.Reparse))
    assert(Updates.orderActions(noParse).map(_._1.`type`) ===
      Seq("slug", "reparse", "name", "description"))
  }

  test("updateFileField: edit, missing-file no-op, missing-field error") {
    val tmp = Files.createTempDirectory("graft-u7")
    val doc = tmp.resolve("d.json")
    Files.write(doc,
      """{"document_name": "old", "zzz_unknown": {"keep": [1, 2]}, "document_description": "d"}"""
        .getBytes(StandardCharsets.UTF_8))

    // happy edit: value replaced, unknown field + order preserved
    assert(Updates.updateFileField(s"file://$doc", "name",
      Some("\"new name\""), Some("\"old\""), conf) === None)
    val after = new String(Files.readAllBytes(doc), StandardCharsets.UTF_8)
    assert(after ===
      """{"document_name": "new name", "zzz_unknown": {"keep": [1, 2]}, "document_description": "d"}""")

    // missing file → benign no-op (None)
    assert(Updates.updateFileField(s"file://$tmp/nope.json", "name",
      Some("\"x\""), None, conf) === None)

    // missing FIELD → error string
    val err = Updates.updateFileField(s"file://$doc", "slug",
      Some("\"s\""), None, conf)
    assert(err.exists(_.contains("document_slug")))
  }

  test("parse action archives every artifact; reparse keeps parser_input") {
    val tmp = Files.createTempDirectory("graft-u5")
    val cfg = UpdateConfig(s"file://$tmp", s"file://$tmp/cdn")
    val ts = Instant.parse("2023-11-21T14:02:40Z")
    for (p <- Seq("parser_input", "embeddings_input", "indexer_input")) {
      Files.createDirectories(tmp.resolve(p))
      Files.write(tmp.resolve(s"$p/D.1.json"), "{}".getBytes)
    }
    Files.write(tmp.resolve("indexer_input/D.1.npy"), Array[Byte](1, 2))

    assert(Updates.updateDocument("D.1", Seq(Update("source_url", None, None)),
      cfg, ts, conf) === Seq(UpdateResult("D.1", "source_url", "[]")))
    for (p <- Seq("parser_input", "embeddings_input", "indexer_input"))
      assert(!Files.exists(tmp.resolve(s"$p/D.1.json")), p)
    assert(Files.exists(tmp.resolve(
      "archive/indexer_input/D.1/2023-11-21-14-02-40.npy")))
    assert(Files.exists(tmp.resolve(
      "archive/parser_input/D.1/2023-11-21-14-02-40.json")))

    // reparse on a fresh tree keeps parser_input
    val tmp2 = Files.createTempDirectory("graft-u10")
    val cfg2 = UpdateConfig(s"file://$tmp2", s"file://$tmp2/cdn")
    for (p <- Seq("parser_input", "embeddings_input", "indexer_input")) {
      Files.createDirectories(tmp2.resolve(p))
      Files.write(tmp2.resolve(s"$p/D.1.json"), "{}".getBytes)
    }
    assert(Updates.updateDocument("D.1", Seq(Update("reparse", None, None)),
      cfg2, ts, conf) === Seq(UpdateResult("D.1", "reparse", "[]")))
    assert(Files.exists(tmp2.resolve("parser_input/D.1.json")))
    assert(!Files.exists(tmp2.resolve("embeddings_input/D.1.json")))
    assert(!Files.exists(tmp2.resolve("indexer_input/D.1.json")))
  }

  private val Prefixes = Seq("parser_input", "embeddings_input", "indexer_input")
  private val Variants = Seq("D.1", "D.1_translated_en")
  private val ArchiveTs = "2023-11-21-14-02-40"

  /** A cached JSON whose last field names its own file, so a moved file
    * is recognisable at its archive key.
    */
  private def cachedJson(prefix: String, variant: String): String =
    s"""{"document_id": "$variant", "document_name": "old name", """ +
      s""""document_description": "old description", """ +
      s""""document_source_url": "https://x.test/a.pdf", """ +
      s""""document_metadata": {"keywords": ["old"]}, """ +
      s""""document_slug": "old-slug", "zzz_file": "$prefix/$variant"}"""

  /** Seeds `{id}` and `{id}_translated_en` × json, npy under all three
    * prefixes; returns the tree as pipeline-relative path → bytes.
    */
  private def seedTree(root: java.nio.file.Path): Map[String, Array[Byte]] = {
    val files = for (p <- Prefixes; v <- Variants; s <- Seq("json", "npy"))
      yield s"$p/$v.$s" -> (if (s == "json") cachedJson(p, v)
        else s"npy $p/$v").getBytes(StandardCharsets.UTF_8)
    files.foreach { case (rel, bytes) =>
      Files.createDirectories(root.resolve(rel).getParent)
      Files.write(root.resolve(rel), bytes)
    }
    files.toMap
  }

  private def tree(root: java.nio.file.Path): Map[String, Array[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f)).toMap
    finally s.close()
  }

  test("each update type moves, edits or leaves every cached file, byte for byte") {
    val all = for (p <- Prefixes; s <- Seq("json", "npy"); v <- Variants)
      yield (p, v, s)
    // (update type, db_value, edited (old, new) field text,
    //  edited (prefix, variant) JSONs, moved (prefix, variant, suffix) in order)
    val cases = Seq(
      ("source_url", "\"https://x.test/b.pdf\"", None, Nil, all),
      ("reprocess", "null", None, Nil, all),
      ("name", "\"new name\"",
        Some(("\"document_name\": \"old name\"", "\"document_name\": \"new name\"")),
        for (p <- Prefixes.take(2); v <- Variants) yield (p, v),
        Seq(("indexer_input", "D.1", "npy"), ("indexer_input", "D.1", "json"))),
      ("description", "\"new description\"",
        Some(("\"document_description\": \"old description\"",
          "\"document_description\": \"new description\"")),
        for (p <- Prefixes.take(2); v <- Variants) yield (p, v),
        Seq(("indexer_input", "D.1", "npy"), ("indexer_input", "D.1", "json"))),
      ("metadata", "{\"keywords\": [\"new\", \"k\"]}",
        Some(("\"document_metadata\": {\"keywords\": [\"old\"]}",
          "\"document_metadata\": {\"keywords\": [\"new\", \"k\"]}")),
        for (p <- Prefixes.take(2); v <- Variants) yield (p, v),
        Seq(("indexer_input", "D.1", "npy"), ("indexer_input", "D.1", "json"))),
      ("slug", "\"new-slug\"",
        Some(("\"document_slug\": \"old-slug\"", "\"document_slug\": \"new-slug\"")),
        for (p <- Prefixes; v <- Variants) yield (p, v), Nil),
      ("reparse", "null", None, Nil, all.filter(_._1 != "parser_input")))
    val ts = Instant.parse("2023-11-21T14:02:40Z")
    for ((tpe, db, field, edits, moves) <- cases) {
      val tmp = Files.createTempDirectory(s"graft-effects-$tpe")
      val seeded = seedTree(tmp)
      val cfg = UpdateConfig(s"file://$tmp", s"file://$tmp/cdn")
      assert(Updates.updateDocument("D.1", Seq(Update(tpe, Some("\"old\""), Some(db))),
        cfg, ts, conf) === Seq(UpdateResult("D.1", tpe, "[]")), tpe)

      val expected = scala.collection.mutable.Map(seeded.toSeq: _*)
      for ((p, v) <- edits; (from, to) <- field)
        expected(s"$p/$v.json") =
          cachedJson(p, v).replace(from, to).getBytes(StandardCharsets.UTF_8)
      for ((p, v, s) <- moves)
        expected(s"archive/$p/D.1/$ArchiveTs.$s") = expected.remove(s"$p/$v.$s").get
      val after = tree(tmp)
      assert(after.keySet === expected.keySet, tpe)
      for ((path, bytes) <- expected)
        assert(new String(after(path), StandardCharsets.UTF_8) ===
          new String(bytes, StandardCharsets.UTF_8), s"$tpe: $path")
    }
  }

  test("a plain file and its translated twin share one archive key; the twin stays") {
    val tmp = Files.createTempDirectory("graft-archive-key")
    seedTree(tmp)
    Updates.updateDocument("D.1", Seq(Update("source_url", None, None)),
      UpdateConfig(s"file://$tmp", s"file://$tmp/cdn"),
      Instant.parse("2023-11-21T14:02:40Z"), conf)
    for (p <- Prefixes) {
      assert(Files.readString(tmp.resolve(s"archive/$p/D.1/$ArchiveTs.json")) ===
        cachedJson(p, "D.1_translated_en"), p)
      assert(Files.readString(tmp.resolve(s"archive/$p/D.1/$ArchiveTs.npy")) ===
        s"npy $p/D.1_translated_en", p)
    }
  }

  test("a missing field is one error per file; the other files are still edited") {
    val tmp = Files.createTempDirectory("graft-missing-field")
    seedTree(tmp)
    val noSlug = """{"document_id": "D.1", "document_name": "old name"}"""
    for (p <- Seq("parser_input", "indexer_input"))
      Files.write(tmp.resolve(s"$p/D.1.json"), noSlug.getBytes(StandardCharsets.UTF_8))
    val results = Updates.updateDocument("D.1",
      Seq(Update("slug", Some("\"old-slug\""), Some("\"new-slug\""))),
      UpdateConfig(s"file://$tmp", s"file://$tmp/cdn"),
      Instant.parse("2023-11-21T14:02:40Z"), conf)
    assert(results === Seq(UpdateResult("D.1", "slug",
      s"['KeyError: \\'document_slug\\' not found in file://$tmp/parser_input/D.1.json', " +
        s"'KeyError: \\'document_slug\\' not found in file://$tmp/indexer_input/D.1.json']")))
    for (p <- Seq("parser_input", "indexer_input"))
      assert(Files.readString(tmp.resolve(s"$p/D.1.json")) === noSlug, p)
    assert(Files.readString(tmp.resolve("embeddings_input/D.1.json")) ===
      cachedJson("embeddings_input", "D.1").replace("\"old-slug\"", "\"new-slug\""))
    for (p <- Prefixes)
      assert(Files.readString(tmp.resolve(s"$p/D.1_translated_en.json")) ===
        cachedJson(p, "D.1_translated_en").replace("\"old-slug\"", "\"new-slug\""), p)
  }
}
