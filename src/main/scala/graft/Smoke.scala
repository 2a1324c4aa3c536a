package graft

/** Driver smoke stand-in: runs SparkEntry.entry and prints the row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    df.show(truncate = false)
    println(s"[smoke] entry rows=${df.count()}")
    spark.stop()
  }
}
