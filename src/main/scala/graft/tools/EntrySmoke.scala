package graft.tools

/** Mimics the driver's t1 smoke: call `SparkEntry.entry` on sf0.001 and
  * assert rows > 0. Run: `sbt "runMain graft.tools.EntrySmoke"`. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("graft-smoke")
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "EMPTY"))
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
