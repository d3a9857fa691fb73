package graft

/** Dev tool: time one named query (cold + warm) and dump its
  * formatted physical plan. Usage:
  *   sbt "runMain graft.Profile <queryName> [sfDir]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local(defaultCpus = 32)
    val fn = SparkEntry.queries(name)
    // session warm-up on an unrelated tiny job
    spark.range(10).count()
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"RUN$i $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
