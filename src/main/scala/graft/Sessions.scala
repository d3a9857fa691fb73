package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession config every harness main runs on
  * (Bench, Verify, Profile, Scratch, ScaleProbe). */
object Sessions {

  /** A `local[n]` session with n shuffle partitions, where n is
    * `SPARK_GRAFT_CPUS` or `defaultCpus` (only `defaultCpus` when
    * `envCpus` is false). UTC session time zone (the catalog queries
    * assume it); `events.parquet` stores TIMESTAMP(NANOS), which the
    * vectorized reader rejects, so it reads as raw nanos longs and
    * the plans convert in place; no UI; WARN logging. */
  def local(defaultCpus: Int, envCpus: Boolean = true): SparkSession = {
    val cpus = if (envCpus) sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
      else defaultCpus.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every global rank window in the engine sits AFTER a limit(k) —
    // k-row inputs in one task — but WindowExec warns "No Partition
    // Defined" unconditionally on an empty partition spec, and Spark 4
    // constant-folds any literal partition key away (so the
    // partitionBy(lit(0)) idiom can't silence it plan-side). The
    // warning is a false positive for post-limit windows; mute that
    // one logger in the harness mains rather than globally.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
