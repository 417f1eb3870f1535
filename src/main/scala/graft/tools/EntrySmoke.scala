package graft.tools
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("WARN")
    println(s"[smoke] entry rows=${graft.SparkEntry.entry(spark).count()}")
    spark.stop()
  }
}
