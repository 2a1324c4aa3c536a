package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ingest.PyJson
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up `SetupReps` times (fresh
  * session + first, untimed run), then repeat the workload for the
  * measurement window, checking every output. With `--trace 1` the window
  * gets half the time and a second window of the other half runs with the
  * outside-in tracers attached, followed by the
  * curation probe and the single-threaded layer probes.
  *
  * Usage: Main --workload ingest_new|ingest_updates --seed N --seconds S
  *             --trace 0|1 --work DIR --out FILE [--corpus DIR]
  */
object Main {

  val SetupReps = 3
  val MinSamples = 3
  /** Untimed runs after set-up, so the JIT has mostly settled before the
    * window: after 8 s of runs it still compiled ~2 s per 2 s run and job_s
    * spread 0.14 over five seeds; after 20 s, ~1 s and 0.03. A count, not a
    * time, because the JIT's thresholds count calls: a time-based warm-up
    * did fewer runs on a slow box, which then carried more JIT work into
    * the window and read slower still.
    */
  val WarmupRuns = 6

  /** A run the hypervisor stole more than this share of the box's CPU
    * time from (steal over job_s × nproc) stays in the record but not in
    * the metrics, and the window runs on, for up to half its length again,
    * until it has `minRuns` runs below it. Such bursts lasted 5–30 s and
    * raised job_s by up to 40 %.
    */
  val StealLimit = 0.05

  case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path, corpus: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")), m.get("corpus"))
  }

  def newSession(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.fs.benchfs.impl", classOf[TimingFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** JIT compile time of this JVM so far, in seconds. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** CPU time the hypervisor gave to other guests, summed over the box's
    * CPUs (the `steal` column of /proc/stat, in clock ticks of 10 ms);
    * 0 where the file is missing.
    */
  def stealSeconds(): Double = {
    val stat = Paths.get("/proc/stat")
    if (!Files.isReadable(stat)) 0.0
    else Files.readAllLines(stat).get(0).trim.split("\\s+").lift(8).fold(0.0)(_.toDouble / 100)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Quantile by linear interpolation (the `statistics` "inclusive" rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Highest percentile with at least ten samples beyond it (p50 when
    * even that is not supported, flagged by the sample count beside it).
    */
  def tailPercentile(n: Int): Int =
    Seq(99, 95, 90, 75).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50)

  /** Per-run samples of the end-to-end metrics, with what else took the
    * box's or the JVM's time during the run: the 1-minute load average at
    * its start and end, CPU time stolen from the box, and JIT time.
    */
  case class Sample(jobS: Double, cpuS: Double, heapMb: Double, load: (Double, Double),
      stealS: Double, jitS: Double) {
    def clean: Boolean =
      stealS < StealLimit * jobS * Runtime.getRuntime.availableProcessors
  }

  /** The samples the metrics are taken from: the clean ones, when there
    * are [[MinSamples]] of them.
    */
  def measured(xs: Seq[Sample]): Seq[Sample] =
    if (xs.count(_.clean) >= MinSamples) xs.filter(_.clean) else xs

  /** Runs the window: repeats the workload until `seconds` of wall time
    * have passed (and at least `minRuns` runs, see [[StealLimit]]),
    * checking each.
    */
  def window(spark: SparkSession, wl: Ingest, seconds: Double,
      trace: Option[Tracer], fail: (Int, Seq[String]) => Unit,
      minRuns: Int = MinSamples): Vector[Sample] = {
    val start = System.nanoTime()
    val (end, last) = (start + (seconds * 1e9).toLong, start + (seconds * 1.5e9).toLong)
    val out = Vector.newBuilder[Sample]
    var n = 0
    var clean = 0
    def more = { val now = System.nanoTime(); now < end || (clean < minRuns && now < last) }
    while (n < minRuns || more) {
      wl.reset()
      trace.foreach(_.begin())
      val l0 = load1()
      val (s0, j0) = (stealSeconds(), jitSeconds())
      val c0 = cpuSeconds()
      val t0 = System.nanoTime()
      wl.run(spark, trace)
      val t = (System.nanoTime() - t0) / 1e9
      val c = cpuSeconds() - c0
      val (stolen, jit) = (stealSeconds() - s0, jitSeconds() - j0)
      trace.foreach(_.end(t, wl.docsPerRun))
      val (f, msgs) = wl.check()
      fail(f, msgs)
      val sample = Sample(t, c, retainedHeapMb(), (l0, load1()), stolen, jit)
      out += sample
      n += 1
      if (sample.clean) clean += 1
    }
    out.result()
  }

  def e2e(samples: Seq[Sample], docs: Int, setup: Seq[Double]): ObjectNode = {
    val o = PyJson.obj()
    def put(name: String, unit: String, xs: Seq[Double]): Unit = {
      val m = o.putObject(name)
      m.put("value", median(xs)).put("unit", unit).put("n", xs.size)
      val p = tailPercentile(xs.size)
      if (p > 50) m.put(s"p$p", quantile(xs, p / 100.0))
      m.put("max", xs.max)
      val all = m.putArray("samples")
      xs.foreach(x => all.add(x))
    }
    put("job_s", "s", samples.map(_.jobS))
    put("docs_per_s", "docs/s", samples.map(s => docs / s.jobS))
    put("cpu_s", "s", samples.map(_.cpuS))
    put("setup_s", "s", setup)
    put("retained_heap_mb", "MB", samples.map(_.heapMb))
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val record = PyJson.obj()
    record.put("workload", opts.workload).put("seed", opts.seed)
      .put("seconds", opts.seconds).put("trace", opts.trace)
    val box = record.putObject("box")
    box.put("nproc", Runtime.getRuntime.availableProcessors)
      .put("calib_sec", graft.Bench.calibrate()).put("load1_start", load1())
    Files.createDirectories(opts.work.resolve("tmp"))
    val phases = record.putObject("phase_s")
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases.put(name, (System.nanoTime() - t0) / 1e9)
    }

    val wl = new Ingest(opts)
    var attempted = 0
    var failed = 0
    val messages = Vector.newBuilder[String]
    def fail(n: Int, msgs: Seq[String]): Unit = {
      attempted += wl.docsPerRun
      failed += n
      messages ++= msgs.take(5)
    }

    // ---- set-up: fresh session + first, untimed run, SetupReps times ----
    var spark: SparkSession = null
    val setup = phase("setup")((1 to SetupReps).map { rep =>
      if (spark != null) stopSession(spark)
      wl.reset()
      val t0 = System.nanoTime()
      spark = newSession(opts.work)
      wl.run(spark, None)
      val t = (System.nanoTime() - t0) / 1e9
      val (f, msgs) = wl.check()
      fail(f, msgs)
      t
    })
    val confBefore = spark.conf.getAll

    // ---- warm-up, then the measured window (untraced) ----------------------
    phase("warmup")(window(spark, wl, 0.0, None, fail, minRuns = WarmupRuns))
    // a traced run splits its measuring time between the two windows
    val windowS = if (opts.trace) opts.seconds / 2 else opts.seconds
    val samples = phase("window")(window(spark, wl, windowS, None, fail))
    record.set[ObjectNode]("metrics", e2e(measured(samples), wl.docsPerRun, setup))
    val excluded = record.putArray("excluded_job_s")
    samples.filterNot(measured(samples).contains).foreach(s => excluded.add(s.jobS))
    val loads = box.putArray("load1_runs")
    samples.foreach(s => loads.addArray().add(s.load._1).add(s.load._2))
    val steal = box.putArray("steal_s_runs")
    samples.foreach(s => steal.add(s.stealS))
    val jit = box.putArray("jit_s_runs")
    samples.foreach(s => jit.add(s.jitS))

    // ---- traced window + probes -------------------------------------------
    if (opts.trace) {
      val tracer = new Tracer(spark, opts.work)
      tracer.install()
      val traced = try {
        // one untimed traced run first: switching to the `benchfs` file
        // system class re-warms the JIT (the first traced run read ~50 %
        // slower than the next)
        window(spark, wl, 0.0, Some(tracer), fail, minRuns = 1)
        tracer.discardRuns()
        val t = phase("traced_window")(window(spark, wl, windowS, Some(tracer), fail))
        // the composition's rows are checked by the caller
        phase("curation")(Curation.probe(spark, tracer, opts))
        attempted += 1
        t
      } finally tracer.uninstall()
      val layers = tracer.report()
      wl.planMetrics.foreach { case (k, v) => layers.put(k, v) }
      layers.put("trace.overhead_s",
        median(measured(traced).map(_.jobS)) - median(measured(samples).map(_.jobS)))
      val tracedJobs = record.putArray("traced_job_s")
      traced.foreach(t => tracedJobs.add(t.jobS))
      val jobs = record.putArray("traced_jobs_last_run")
      tracer.lastJobs.foreach(jobs.add)
      phase("probes")(Probes.run(spark, opts.seed, opts.work.resolve("probe"), layers))
      record.set[ObjectNode]("layers", layers)
    }

    // ---- isolation record ---------------------------------------------------
    val iso = record.putObject("isolation")
    val sc = spark.sparkContext
    iso.put("cached_rdds_after", sc.getPersistentRDDs.size)
      .put("storage_mb_after", sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
      .put("retained_heap_mb_after", retainedHeapMb())
    val confAfter = spark.conf.getAll
    val drift = iso.putObject("conf_drift")
    (confBefore.keySet ++ confAfter.keySet).toSeq.sorted
      .filter(k => confBefore.get(k) != confAfter.get(k))
      .foreach(k => drift.put(k, s"${confBefore.getOrElse(k, "<unset>")} -> ${confAfter.getOrElse(k, "<unset>")}"))
    val tmp = opts.work.resolve("tmp")
    iso.put("temp_entries_after", Files.list(tmp).count())
    stopSession(spark)
    box.put("load1_end", load1())

    record.put("attempted", attempted).put("failed", failed)
    val msgs = record.putArray("failures")
    messages.result().take(20).foreach(msgs.add)
    Files.write(opts.out, PyJson.dumps(record).getBytes("UTF-8"))
  }
}
