package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df = SparkEntry.entry(spark)
    df.show(5, false)
    println("ENTRY_ROWS=" + df.count())
    spark.stop()
  }
}
