package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built (`SessionsSpec` rejects any
  * other `SparkSession.builder` under `src/main`). Every entry point gets
  * the same base: a `local[cores]` master, its shuffle-partition count,
  * a UTC session time zone, the UI off and a log level. What an entry
  * point adds on top (a codegen cache size, AQE thresholds, extensions)
  * stays at its call site through `configure`.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS` when set, else the caller's default. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def local(cores: Int, partitions: Int, logLevel: String = "WARN",
      configure: SparkSession.Builder => SparkSession.Builder = identity)
      : SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
