package graft.tools

/** Dev tool: drive SparkEntry.entry exactly as the driver's smoke check does. */
object RunEntry {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    val df = graft.SparkEntry.entry(spark)
    df.show(false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
