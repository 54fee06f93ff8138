package graft

/** Local replica of the driver's t1 smoke gate: SparkEntry.entry on
  * sf0.001 must return rows > 0. Prints the count and a sample.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession(4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows = $n")
    df.show(5, false)
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
