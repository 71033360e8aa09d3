package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its SparkSession. */
object Sessions {

  /** Cores a graft main runs on, and its shuffle partitions:
    * `SPARK_GRAFT_CPUS`, else every core of this host. Read once here,
    * so every main and every Bench record agree on it.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A builder with the settings every graft session needs: UTC
    * session time, and naive parquet timestamp[us] read as
    * session-zone TIMESTAMP (the pre-Spark-4 behavior) instead of
    * TIMESTAMP_NTZ — the CDC envelope, the watermark paths and
    * `Row.getTimestamp` over the testdata all require TIMESTAMP.
    */
  def builder(master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** A `local[cpus]` session for the offline tool mains: one shuffle
    * partition per core, no UI, Spark's own logging at `logLevel`.
    */
  def local(logLevel: String = "WARN"): SparkSession = {
    val spark = builder(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
