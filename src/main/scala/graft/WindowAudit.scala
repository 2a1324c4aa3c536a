package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}

/** Diagnostic: list every query whose OPTIMIZED plan still contains an
  * unpartitioned Window (the single-partition WindowExec Spark warns
  * about), split by whether it sits above an Aggregate (bounded frame)
  * or over row-grain data. Plans only — nothing executes. The bench
  * de-noising work (replace bounded-frame global windows with the
  * aggregate-HOF prefix fold or crossJoin(broadcast(agg))) is driven
  * and regression-checked from this list; PlanQualitySpec asserts the
  * end state.
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try CacheScope.scoped {
        val lp = fn(spark, sfDir).queryExecution.optimizedPlan
        val wins = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
        if (wins.nonEmpty) {
          val aboveAgg = wins.count(w =>
            w.child.collectFirst { case a: Aggregate => a }.nonEmpty)
          println(s"[windows] $name total=${wins.size} aboveAgg=$aboveAgg")
          wins.foreach { w =>
            val ord = if (w.orderSpec.isEmpty) "SCALAR" else "ORDERED"
            val fns = w.windowExpressions.map(_.collectFirst {
              case e: org.apache.spark.sql.catalyst.expressions.WindowExpression =>
                e.windowFunction.prettyName
            }.getOrElse("?")).mkString(",")
            println(s"[windows]   $name $ord fns=$fns")
          }
        }
      } catch { case e: Throwable =>
        println(s"[windows] $name PLAN-ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
