package graft.perfbench

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ingest.{Converter, FetchResponse, Fetcher, JsonLog, PyJson}
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FileSystem, FilterFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** JVM-wide call counters and busy time, fed by the bench's wrappers
  * (executor tasks run in this JVM in local mode).
  */
object Counters {
  private val calls = new ConcurrentHashMap[String, LongAdder]()
  private val nanos = new ConcurrentHashMap[String, LongAdder]()
  private def adder(m: ConcurrentHashMap[String, LongAdder], k: String) =
    m.computeIfAbsent(k, _ => new LongAdder)

  def add(name: String, n: Long): Unit = adder(calls, name).add(n)
  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      adder(nanos, name).add(System.nanoTime() - t0)
      adder(calls, name).increment()
    }
  }
  /** (calls, seconds) per name, as of now. */
  def snapshot(): Map[String, (Long, Double)] =
    (calls.keySet.asScala ++ nanos.keySet.asScala).map { k =>
      k -> (Option(calls.get(k)).fold(0L)(_.sum), Option(nanos.get(k)).fold(0L)(_.sum) / 1e9)
    }.toMap
}

class TracedFetcher(inner: Fetcher) extends Fetcher {
  override def get(url: String): FetchResponse = {
    val r = Counters.timed("Fetcher")(inner.get(url))
    Counters.add("Fetcher.bytes", r.body.length)
    r
  }
}

class TracedConverter(inner: Converter) extends Converter {
  override def docToPdf(content: Array[Byte]): Array[Byte] =
    Counters.timed("Convert.doc_to_pdf")(inner.docToPdf(content))
  override def capturePdfFromUrl(url: String): (Array[Byte], Option[String]) =
    Counters.timed("Convert.capture")(inner.capturePdfFromUrl(url))
  override def addLastPageWatermark(pdf: Array[Byte], text: String): Array[Byte] =
    Counters.timed("Convert.watermark")(inner.addLastPageWatermark(pdf, text))
}

/** The raw local file system answering to the bench-only scheme. */
class BenchRawFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("benchfs:///")
  override def getScheme: String = "benchfs"
}

/** The local file system (checksums included) under the bench-only
  * `benchfs` scheme, timing every call the ingest `Storage` layer makes.
  * Output streams are wrapped so a create's time includes its writes and
  * close.
  */
class TimingFileSystem extends FilterFileSystem(new LocalFileSystem(new BenchRawFileSystem)) {
  private def op[T](name: String)(body: => T): T = Counters.timed(s"fs.$name")(body)

  override def getScheme: String = "benchfs"

  override def create(f: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = op("create")(fs.create(f, perm, overwrite, bufferSize,
      replication, blockSize, progress))
    new FSDataOutputStream(new java.io.OutputStream {
      private def t[T](body: => T): T = Counters.timed("fs.write")(body)
      override def write(b: Int): Unit = t(out.write(b))
      override def write(b: Array[Byte], off: Int, len: Int): Unit = t(out.write(b, off, len))
      override def flush(): Unit = t(out.flush())
      override def close(): Unit = t(out.close())
    }, null)
  }
  override def open(f: Path, bufferSize: Int) = op("open")(fs.open(f, bufferSize))
  override def exists(f: Path): Boolean = op("exists")(fs.exists(f))
  override def rename(src: Path, dst: Path): Boolean = op("rename")(fs.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = op("delete")(fs.delete(f, recursive))
  override def mkdirs(f: Path, perm: FsPermission): Boolean = op("mkdirs")(fs.mkdirs(f, perm))
  override def mkdirs(f: Path): Boolean = op("mkdirs")(fs.mkdirs(f))
  override def getFileStatus(f: Path): FileStatus = op("status")(fs.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = op("list")(fs.listStatus(f))
}

/** Outside-in tracing of one session: a SparkListener, the counting
  * wrappers, the `benchfs` timing file system, a JsonLog sink capture,
  * Hadoop FS statistics and a JFR `jdk.ProcessStart` recording. Each
  * traced run yields one value per metric; [[report]] gives medians.
  */
class Tracer(spark: SparkSession, work: JPath) {
  private val sc = spark.sparkContext
  private val QueryProp = "perfbench.query"

  private case class Job(id: Int, start: Long, var end: Long, site: String, exec: String)
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  private val agg = new ConcurrentHashMap[String, Double]()
  private def bump(k: String, v: Double): Unit = agg.merge(k, v, (a: Double, b: Double) => a + b)
  private def peak(k: String, v: Double): Unit = agg.merge(k, v, (a: Double, b: Double) => math.max(a, b))

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
      val q = Option(j.properties).flatMap(p => Option(p.getProperty(QueryProp))).getOrElse("")
      // the result stage is named after the job's call site; adaptive
      // execution submits a query's stages as extra jobs of the same
      // SQL execution, so jobs are grouped by their root execution id
      val site = j.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val exec = Seq("spark.sql.execution.root.id", "spark.sql.execution.id")
        .flatMap(k => Option(j.properties).flatMap(p => Option(p.getProperty(k)))).headOption
        .getOrElse(s"job${j.jobId}")
      jobs += Job(j.jobId, j.time, -1L, site, exec)
      j.stageIds.foreach(s => stageQuery.put(s, q))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == j.jobId).foreach(_.end = j.time)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val q = stageQuery.getOrDefault(s.stageInfo.stageId, "")
      bump("spark.stages", 1)
      if (q.nonEmpty) bump(s"query.$q.stages", 1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m == null) return
      val q = stageQuery.getOrDefault(t.stageId, "")
      val run = m.executorRunTime / 1e3
      val shuffleMb = (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten) / 1048576.0
      bump("spark.tasks", 1)
      bump("spark.exec_run_s", run)
      bump("spark.exec_cpu_s", m.executorCpuTime / 1e9)
      bump("spark.gc_s", m.jvmGCTime / 1e3)
      bump("spark.deser_s", m.executorDeserializeTime / 1e3)
      bump("spark.sched_delay_s", math.max(0L, t.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
      bump("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      bump("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      bump("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      peak("spark.max_task_s", run)
      peak("spark.peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
      if (q.nonEmpty) {
        bump(s"query.$q.shuffle_mb", shuffleMb)
        bump(s"query.$q.gc_s", m.jvmGCTime / 1e3)
        peak(s"query.$q.max_task_s", run)
      }
    }
  }

  private val jsonLines = new LongAdder
  private val jsonErrors = new LongAdder
  private var savedSink: String => Unit = _
  private var recording: jdk.jfr.Recording = _
  private var runStart = 0L
  private var before: Map[String, (Long, Double)] = Map.empty
  private var fsBefore = (0L, 0L)
  private val runs = mutable.ArrayBuffer[Map[String, Double]]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  /** The last traced run's jobs: start offset, duration, call site. */
  var lastJobs: Seq[String] = Nil
  private val queryMetrics = mutable.LinkedHashMap[String, Double]()

  /** JsonLog error lines seen in the current run. */
  def errorLines: Long = jsonErrors.sum

  def install(): Unit = {
    recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart").withoutStackTrace()
    recording.start()
    sc.addSparkListener(listener)
    savedSink = JsonLog.sink
    JsonLog.sink = { line =>
      jsonLines.increment()
      if (line.contains("\"level\":\"ERROR\"")) jsonErrors.increment()
    }
  }

  /** Detaches everything and attributes the recorded process starts to
    * the runs whose interval holds them.
    */
  def uninstall(): Unit = {
    sc.removeSparkListener(listener)
    JsonLog.sink = savedSink
    recording.stop()
    val jfr = work.resolve("forks.jfr")
    recording.dump(jfr)
    recording.close()
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.map(_.getStartTime.toEpochMilli)
    Files.delete(jfr)
    runs.indices.foreach { i =>
      val (t0, t1) = intervals(i)
      runs(i) = runs(i) + ("Storage.forks" -> starts.count(t => t >= t0 && t <= t1).toDouble)
    }
  }

  private def fsBytes(): (Long, Long) = {
    val all = FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  /** A composition's span: its wall time, and a job property so the
    * listener attributes its stages and tasks; then what the session
    * still caches once the composition's scope has closed.
    */
  def query(name: String)(body: => Unit): Unit = {
    BenchBus.drain(sc)
    sc.setLocalProperty(QueryProp, name)
    val t0 = System.nanoTime()
    try body finally sc.setLocalProperty(QueryProp, null)
    queryMetrics(s"query.$name.s") = (System.nanoTime() - t0) / 1e9
    BenchBus.drain(sc)
    for (k <- Seq("stages", "shuffle_mb", "gc_s", "max_task_s"))
      queryMetrics(s"query.$name.$k") = agg.getOrDefault(s"query.$name.$k", 0.0)
    queryMetrics("CacheScope.cached_rdds_after") = sc.getPersistentRDDs.size.toDouble
    queryMetrics("CacheScope.storage_mb_after") = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
  }

  /** Forgets the runs closed so far (warm-up runs). */
  def discardRuns(): Unit = { runs.clear(); intervals.clear() }

  def begin(): Unit = {
    BenchBus.drain(sc)
    jobs.synchronized(jobs.clear())
    agg.clear()
    jsonLines.reset(); jsonErrors.reset()
    before = Counters.snapshot()
    fsBefore = fsBytes()
    runStart = System.currentTimeMillis()
  }

  /** Closes the run that took `jobS` seconds; `docs` is its input size. */
  def end(jobS: Double, docs: Int): Unit = {
    val runEnd = System.currentTimeMillis()
    BenchBus.drain(sc)
    val (rd, wr) = fsBytes()
    val now = Counters.snapshot()
    intervals += ((runStart, runEnd))

    def d(k: String): (Long, Double) = {
      val (c1, s1) = now.getOrElse(k, (0L, 0.0)); val (c0, s0) = before.getOrElse(k, (0L, 0.0))
      (c1 - c0, s1 - s0)
    }
    val m = mutable.LinkedHashMap[String, Double]()
    val fsOps = Seq("create", "open", "exists", "rename", "mkdirs", "delete", "status", "list")
    fsOps.take(6).foreach(o => m(s"Storage.${o}_ops") = d(s"fs.$o")._1.toDouble)
    m("Storage.busy_s") = (fsOps :+ "write").map(o => d(s"fs.$o")._2).sum
    m("Storage.bytes_read_mb") = (rd - fsBefore._1) / 1048576.0
    m("Storage.bytes_written_mb") = (wr - fsBefore._2) / 1048576.0
    m("Storage.ops_per_doc") = fsOps.map(o => d(s"fs.$o")._1).sum.toDouble / docs
    for (c <- Seq("doc_to_pdf", "capture", "watermark")) m(s"Convert.$c.calls") = d(s"Convert.$c")._1.toDouble
    m("Convert.watermark.busy_s") = d("Convert.watermark")._2
    m("Fetcher.calls") = d("Fetcher")._1.toDouble
    m("Fetcher.busy_s") = d("Fetcher")._2
    m("Fetcher.bytes_mb") = d("Fetcher.bytes")._1 / 1048576.0

    // IngestJob phases from the listener's jobs: phase 1 ends with the
    // last job called from IngestJob itself (the updates collect), phase
    // 2 with the last job; the report is the driver time after it.
    val js = jobs.synchronized(jobs.toVector).filter(_.end > 0).sortBy(_.start)
    lastJobs = js.map(j => f"${(j.start - runStart) / 1e3}%.3f +${(j.end - j.start) / 1e3}%.3f s " +
      s"exec ${j.exec} ${j.site}")
    // an execution is named after its one job with a caller's call site
    val execSite = js.groupBy(_.exec).map { case (e, g) =>
      e -> g.map(_.site).find(_.contains(".scala:")).getOrElse("") }
    val ingest = js.filter(j => execSite(j.exec).contains("IngestJob.scala"))
    val lastJobEnd = if (js.isEmpty) runStart else js.map(_.end).max
    val p1End = if (ingest.isEmpty) runStart else ingest.map(_.end).max
    m("IngestJob.phase1_s") = (p1End - runStart) / 1e3
    m("IngestJob.phase2_s") = (lastJobEnd - p1End) / 1e3
    m("IngestJob.report_s") = (runEnd - lastJobEnd) / 1e3
    // self time of the run span: driver time no Spark job covers
    var covered = 0L; var reach = runStart
    js.foreach { j =>
      val s = math.max(j.start, reach)
      if (j.end > s) { covered += j.end - s; reach = j.end }
    }
    m("IngestJob.driver_self_s") = jobS - covered / 1e3
    m("JsonLog.lines") = jsonLines.sum.toDouble
    m("JsonLog.error_lines") = jsonErrors.sum.toDouble
    m("spark.jobs") = js.size.toDouble
    for (k <- Seq("stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "deser_s",
        "sched_delay_s", "max_task_s", "shuffle_read_mb", "shuffle_write_mb",
        "spill_mb", "peak_exec_mem_mb")) m(s"spark.$k") = agg.getOrDefault(s"spark.$k", 0.0)
    runs += m.toMap
  }

  /** Median of every metric over the traced runs, plus their count and
    * the composition spans.
    */
  def report(): ObjectNode = {
    val o = PyJson.obj()
    runs.head.keys.toSeq.sorted.foreach(k => o.put(k, Main.median(runs.map(_(k)).toSeq)))
    o.put("trace.runs", runs.size)
    queryMetrics.foreach { case (k, v) => o.put(k, v) }
    o
  }
}
