package graft.perfbench

import java.nio.file.Files

import graft.{CacheScope, SparkEntry}
import graft.ingest.PyJson
import org.apache.spark.sql.SparkSession

/** The curation probe of a traced run: `q143_curate_and_shard` from
  * `SparkEntry.queries` over a seeded `documents` table. It runs once
  * collected, writing the rows and the DuckDB oracle SQL for the caller
  * to check, then once to the `noop` sink (so Catalyst cannot prune what
  * a caller gets) under the tracer's span.
  */
object Curation {

  val Query = "q143_curate_and_shard"

  def probe(spark: SparkSession, tracer: Tracer, opts: Main.Opts): Unit = {
    val dir = opts.corpus.getOrElse(sys.error("a traced run needs --corpus"))
    val rows = PyJson.obj()
    CacheScope.scoped {
      val df = SparkEntry.queries(Query)(spark, dir)
      val out = rows.putObject(Query)
      val cols = out.putArray("columns")
      df.columns.foreach(cols.add)
      val data = out.putArray("rows")
      df.collect().foreach { r =>
        val a = data.addArray()
        r.toSeq.foreach {
          case null => a.addNull()
          case v: Int => a.add(v)
          case v: Long => a.add(v)
          case v: Double => a.add(v)
          case v => a.add(v.toString)
        }
      }
    }
    Files.write(opts.work.resolve("curation_rows.json"), PyJson.dumps(rows).getBytes("UTF-8"))
    val sql = PyJson.obj().put(Query, SparkEntry.oracleSql(Query))
    Files.write(opts.work.resolve("oracle_sql.json"), PyJson.dumps(sql).getBytes("UTF-8"))

    tracer.query(Query) {
      CacheScope.scoped {
        SparkEntry.queries(Query)(spark, dir).write.format("noop").mode("overwrite").save()
      }
    }
  }
}
