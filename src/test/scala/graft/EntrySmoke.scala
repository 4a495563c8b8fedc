package graft
/** Manual smoke main: mirrors the driver's t1 check (entry rows>0). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(logLevel = "ERROR")
    val df = SparkEntry.entry(spark)
    df.show(3, 70)
    println("ENTRY_ROWS=" + df.count())
    spark.stop()
  }
}
