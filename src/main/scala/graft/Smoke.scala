package graft

/** Local smoke runner mirroring the driver's t1 check: SparkEntry.entry
  * must return >0 rows on sf0.001. Prints the row count and the plan.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4, 4)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    spark.stop()
  }
}
