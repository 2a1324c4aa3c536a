package graft.ingest

import java.time.Instant

import graft.model.Schemas.UpdateConfig
import org.apache.spark.sql.SparkSession

/** CLI entry point (SURVEY.md §2 O1 — reference `main.py:64-125`): the
  * same options as the reference's click command, over generic Hadoop-FS
  * roots instead of raw bucket names.
  *
  * {{{
  * runMain graft.ingest.IngestMain \
  *   --pipeline-root file:///data/pipeline \
  *   --document-root file:///data/cdn \
  *   --input-dir-path input/2022-11-01T21.53.26.945831 \
  *   [--updates-file-name new_and_updated_documents.json] \
  *   [--output-prefix parser_input] [--embeddings-input-prefix embeddings_input]
  *   [--indexer-input-prefix indexer_input] [--archive-prefix archive]
  * }}}
  *
  * Parallelism is task slots (the reference's `--worker-count` maps to
  * Spark's master/parallelism settings, SURVEY.md §4).
  */
object IngestMain {

  /** A parsed command line. */
  case class Args(cfg: UpdateConfig, inputDirPath: String, updatesFileName: String)

  /** Every accepted option with its default; `None` marks a required one. */
  private val options: Seq[(String, Option[String])] = Seq(
    "pipeline-root" -> None,
    "document-root" -> None,
    "input-dir-path" -> None,
    "updates-file-name" -> Some("new_and_updated_documents.json"),
    "output-prefix" -> Some("parser_input"),
    "embeddings-input-prefix" -> Some("embeddings_input"),
    "indexer-input-prefix" -> Some("indexer_input"),
    "archive-prefix" -> Some("archive"))

  /** Parse `--key value` pairs. Throws `IllegalArgumentException` naming
    * any unknown, repeated, valueless or missing option, with the list of
    * accepted ones: a typo must not fall back to a default silently.
    */
  def parseArgs(args: Seq[String]): Args = {
    val names = options.map("--" + _._1)
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"$msg; accepted options: ${names.mkString(" ")}")
    val pairs = args.grouped(2).map {
      case Seq(k, v) if names.contains(k) => k.drop(2) -> v
      case Seq(k) if names.contains(k) => fail(s"option $k has no value")
      case k +: _ => fail(s"unknown option $k")
    }.toMap
    if (pairs.size < args.size / 2) fail("an option is given more than once")
    val opts = options.map { case (k, default) =>
      k -> pairs.get(k).orElse(default)
        .getOrElse(fail(s"missing required option --$k"))
    }.toMap
    Args(
      UpdateConfig(
        pipelineRoot = opts("pipeline-root").stripSuffix("/"),
        documentRoot = opts("document-root").stripSuffix("/"),
        parserInputPrefix = opts("output-prefix"),
        embeddingsInputPrefix = opts("embeddings-input-prefix"),
        indexerInputPrefix = opts("indexer-input-prefix"),
        archivePrefix = opts("archive-prefix")),
      opts("input-dir-path"),
      opts("updates-file-name"))
  }

  def main(args: Array[String]): Unit = {
    val parsed = parseArgs(args.toSeq)

    val spark = SparkSession.builder()
      .appName("graft-ingest")
      // spark-submit injects the real master; default for direct runs
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val report = IngestJob.run(spark, parsed.cfg, parsed.inputDirPath,
      parsed.updatesFileName,
      fetcher = new JdkHttpFetcher(),
      converter = Converter.select(
        haveSoffice = ProcessConverter.available("soffice"),
        haveChromium = ProcessConverter.available("chromium"),
        real = new ProcessConverter(), stub = new StubConverter()),
      runTs = Instant.now())

    val errs = report.results.count(_.error.isDefined)
    println(s"[ingest] ${report.results.size} results ($errs errors) -> " +
      report.reportPath)
    spark.stop()
    // row-level failures do NOT fail the job (reference exit-0 contract,
    // test_integration.py:440,494)
  }
}
