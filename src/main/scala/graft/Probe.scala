package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev harness: run SparkEntry queries by name with [[TaskCounters]]
  * attached. Each rep runs in its own CacheScope (else reps 2+ measure
  * rep 1's operator caches, not the plan) and prints rows, wall seconds
  * and the counters, then one line per completed stage. With a plan dir,
  * each query's formatted physical plan goes to `<planDir>/<query>.txt`,
  * captured unexecuted: join strategies, Exchanges, pushed filters and
  * codegen spans, not AQE's final shape.
  *
  * Usage: runMain graft.Probe <q1,q2,...> [sfDir] [reps] [planDir]
  */
object Probe {

  case class Args(names: Seq[String], sfDir: String, reps: Int, planDir: Option[String])

  case class Rep(name: String, rep: Int, rows: Long, wallSec: Double, counters: TaskCounters)

  /** Throws `IllegalArgumentException` on a bad command line. */
  def parseArgs(args: Seq[String]): Args = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"$msg; usage: graft.Probe <q1,q2,...> [sfDir] [reps] [planDir]")
    if (args.isEmpty || args.size > 4) fail(s"${args.size} arguments")
    val reps = args.lift(2).fold(2)(r => r.toIntOption.filter(_ > 0)
      .getOrElse(fail(s"reps '$r' is not a positive integer")))
    Args(Harness.queryNames(args.head),
      args.lift(1).getOrElse("/root/testdata/sf0.1"), reps, args.lift(3))
  }

  def run(spark: SparkSession, a: Args): Seq[Rep] = a.names.flatMap { name =>
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    a.planDir.foreach { dir =>
      // scoped: operators that persist while the plan is BUILT (models
      // collected at plan time) are released
      val plan = CacheScope.scoped {
        fn(spark, a.sfDir).queryExecution.explainString(FormattedMode)
      }
      val path = Files.createDirectories(Paths.get(dir)).resolve(s"$name.txt")
      Files.writeString(path, plan)
      println(s"PLAN $name -> $path")
    }
    (1 to a.reps).map { i =>
      val counters = new TaskCounters
      GraftBus.drain(sc) // no earlier event may reach this rep's counters
      sc.addSparkListener(counters)
      val rep = try {
        val t0 = System.nanoTime()
        val rows = CacheScope.scoped { fn(spark, a.sfDir).count() }
        Rep(name, i, rows, (System.nanoTime() - t0) / 1e9, counters)
      } finally { GraftBus.drain(sc); sc.removeSparkListener(counters) }
      println(f"PROBE $name rep=$i rows=${rep.rows} wall=${rep.wallSec}%.3f $counters")
      counters.stageLines.foreach(println)
      rep
    }
  }

  def main(args: Array[String]): Unit = {
    val parsed = parseArgs(args.toSeq)
    val spark = Harness.session()
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      run(spark, parsed)
    } finally spark.stop()
  }
}

/** Job/stage/task accounting of the actions run while attached: summed
  * executor run, GC and deserialize time, shuffle fetch wait and bytes,
  * and the longest task. At sf0.1 wall time is mostly per-task and
  * per-stage overhead; run time is the compute, GC the JVM's share of it,
  * and the max task shows skew. Events arrive asynchronously: drain the
  * bus (`org.apache.spark.GraftBus.drain`) before reading.
  */
class TaskCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicInteger
  val runMs, gcMs, deserMs, maxTaskMs, fetchWaitMs, shufReadB, shufWriteB = new AtomicLong
  private val stageLog = new ConcurrentLinkedQueue[String]

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = s.stageInfo
    def v(f: TaskMetrics => Double) = Option(i.taskMetrics).fold(-1.0)(f)
    stageLog.add(f"  STAGE ${i.stageId}%4d tasks=${i.numTasks}%4d " +
      f"runSec=${v(_.executorRunTime / 1e3)}%7.2f " +
      f"shufRd=${v(_.shuffleReadMetrics.totalBytesRead / 1e6)}%7.1fMB " +
      f"shufWr=${v(_.shuffleWriteMetrics.bytesWritten / 1e6)}%7.1fMB ${i.name.take(60)}")
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(t.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      deserMs.addAndGet(m.executorDeserializeTime)
      maxTaskMs.accumulateAndGet(m.executorRunTime, math.max(_, _))
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** One line per completed stage, in completion order. */
  def stageLines: Seq[String] = stageLog.asScala.toSeq

  override def toString: String =
    f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
      f"execRunSec=${runMs.get / 1e3}%.2f gcSec=${gcMs.get / 1e3}%.2f " +
      f"deserSec=${deserMs.get / 1e3}%.2f maxTaskSec=${maxTaskMs.get / 1e3}%.2f " +
      f"fetchWaitSec=${fetchWaitMs.get / 1e3}%.2f " +
      f"shufReadMB=${shufReadB.get / 1e6}%.1f shufWriteMB=${shufWriteB.get / 1e6}%.1f"
}
