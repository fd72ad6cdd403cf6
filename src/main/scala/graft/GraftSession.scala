package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session recipe: Bench, Verify, `graft.Profile` and the
  * specs all build their session here, so every run plans with the same
  * extensions and reads the fixtures the same way.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, otherwise the host's processor count. */
  def hostCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` session with `cores` shuffle partitions. */
  def apply(cores: Int = hostCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", ShmLocalDir.path())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
      // type for; read as long (ns since epoch) and convert explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
