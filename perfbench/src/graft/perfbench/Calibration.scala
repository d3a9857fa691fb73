package graft.perfbench

/** `Bench`'s calibration probes, recorded with every run as context:
  * the CPU probe (a fixed 50M-row aggregate) and the I/O probe (write,
  * fresh read and delete of incompressible rows). `Bench`'s CPU probe
  * also scans the sf0.1 lineitem table; this benchmark generates its
  * own data, so that half is left out and the CPU number is the range
  * aggregate alone. The I/O probe runs at a tenth of `Bench`'s 2M
  * rows to fit the run's time budget. Both run after the JIT warm-up. */
object Calibration {
  def probe(env: Env): Seq[(String, String)] = {
    val spark = env.spark
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(id % 97)").collect()
    val cpu = (System.nanoTime() - t0) / 1e9
    val dir = env.dir("iocalib")
    val t1 = System.nanoTime()
    spark.range(200000L).selectExpr("id", "md5(cast(id as string)) as h")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).selectExpr("count(distinct h)").collect()
    val io = (System.nanoTime() - t1) / 1e9
    graft.FileTree.delete(new java.io.File(dir))
    Seq("calib_sec" -> cpu.toString, "io_calib_sec" -> io.toString)
  }
}
