package graft
/** Local t1-equivalent smoke: runs SparkEntry.entry and prints its row
  * count (driver checks rows>0 on sf0.001). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()} COLS=${df.columns.mkString(",")}")
    spark.stop()
  }
}
