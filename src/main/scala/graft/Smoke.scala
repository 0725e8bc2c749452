package graft

/** Mimics the driver's t1 smoke: SparkEntry.entry must return >0 rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Engine.localSession()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, false)
    println(s"SMOKE rows=$n " + (if (n > 0) "OK" else "FAILED"))
    spark.stop()
  }
}
