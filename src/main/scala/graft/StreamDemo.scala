package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Runnable streaming surface: replays the events table through a
  * file-based Structured Streaming source in CHRONOLOGICAL micro-
  * batches (range-partitioned by ts, file mtimes stamped in range
  * order so the file source replays them in time order — replaying
  * shuffled files would make everything after the first batch late
  * and watermark-dropped), runs the watermarked pipelines, and checks
  * the emitted rows against the finalized subset of the batch plans.
  *
  * Usage: runMain graft.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()

    val stage = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val events = ops.T.normalizeEventTime(ops.T(spark, sfDir, "events"), ntz = false)
    events.repartitionByRange(8, col("ts"))
      .write.mode("overwrite").parquet(stage)
    // stamp mtimes in partition order: part-00000 holds the earliest
    // ts range, so the file source replays chronologically
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1000000000000L + i * 60000L)
    }

    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1") // one chronological micro-batch each
      .parquet(stage)

    val hourly = EventStreams.hourlyTypeCounts(stream)
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    val sessions = EventStreams.userSessions(stream)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    hourly.processAllAvailable(); sessions.processAllAvailable()
    hourly.stop(); sessions.stop()

    // append mode only emits windows the final watermark (max_ts - 2h)
    // has passed; everything before it must match the batch plan
    val maxTs = events.agg(max("ts")).collect()(0).getTimestamp(0)
    val wm = new java.sql.Timestamp(maxTs.getTime - 2 * 3600 * 1000L)
    val nHourly = spark.table("hourly").count()
    val batchHourlyFinal = ops.Events.hourlyTypeCounts(events)
      .filter(col("window_start") + expr("INTERVAL 1 HOUR") <= lit(wm)).count()
    val nSessions = spark.table("sessions").count()
    // NOTE: the finalized-subset filter must run AFTER collecting the
    // sessionized rows. Filtering `session_window.end` inside the plan
    // gets pushed below the session aggregation by Catalyst (legal for
    // ordinary grouping keys, wrong for session windows: merging
    // changes the key), silently dropping pre-merge events.
    val batchSessionsFinal = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.end").as("end"))
      .collect().count(_.getTimestamp(0).compareTo(wm) <= 0)
    val ok = nHourly == batchHourlyFinal && nSessions == batchSessionsFinal
    println(s"""{"stream_hourly":$nHourly,"batch_hourly_finalized":$batchHourlyFinal,""" +
      s""""stream_sessions":$nSessions,"batch_sessions_finalized":$batchSessionsFinal,""" +
      s""""match":$ok}""")
    spark.stop()
  }
}
