package graft

/** Dev smoke: replicates the driver's t1 check — `entry` on sf0.001 must
  * return rows. Prints the rows so a human can eyeball the flagship query.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.foreach(r => println(s"[smoke] $r"))
    assert(rows.nonEmpty, "entry returned no rows")
    spark.stop()
  }
}
