package graft

import org.apache.spark.sql.SparkSession

/** The local session every entry point (and the spec trait) opens:
  * `local[cpus]` with as many shuffle partitions, UTC session time,
  * `events.parquet`'s TIMESTAMP(NANOS) read as longs
  * (`spark.sql.legacy.parquet.nanosAsLong`; without it a read of
  * events throws PARQUET_TYPE_ILLEGAL), no UI, and WARN logging.
  */
object GraftSession {
  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
