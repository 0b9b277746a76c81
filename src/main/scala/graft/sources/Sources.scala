package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import java.security.MessageDigest

/** Sources and sinks — SURVEY.md §2.B S1-S7.
  *
  * The reference reads files with per-row driver I/O
  * (basic_tasks.py:21-29 `open(path).read()` inside `.apply`); every
  * reader here is a distributed Spark source: listing, reading, and
  * decoding happen on executors, so a 100 TB corpus scans in
  * parallel with no driver round-trips.
  */
object Sources {

  /** S1: glob file listing -> one row per path (basic_tasks.py:12-18).
    * `binaryFile` lists distributively and prunes the content column
    * when only `path` is selected.
    */
  def globPaths(spark: SparkSession, glob: String, pathCol: String = "path"): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .select(col("path").as(pathCol))

  /** S2: whole-file read beside the path (basic_tasks.py:21-29) —
    * executor-side `wholetext`, not a driver loop.
    */
  def wholeText(spark: SparkSession, glob: String,
      pathCol: String = "path", textCol: String = "text"): DataFrame =
    spark.read.option("wholetext", "true").text(glob)
      .select(input_file_name().as(pathCol), col("value").as(textCol))

  /** S2 variant: line-per-row read with the source path kept. */
  def textLines(spark: SparkSession, glob: String,
      pathCol: String = "path", lineCol: String = "line"): DataFrame =
    spark.read.text(glob)
      .select(input_file_name().as(pathCol), col("value").as(lineCol))

  /** S3: CSV source with header + schema inference (browse.py:19-26;
    * the 1-row "schema peek" is free here — schemas are lazy).
    */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S6: CSV sink (serve_view_df.py:160-173). Single file only when
    * `singleFile` (driver-download analogue); otherwise one file per
    * partition, the scalable default.
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** JSON-lines source/sink — schema-on-read for semi-structured
    * interchange (each partition writes its own file; splittable).
    */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC source/sink — the second columnar format, same pushdown and
    * pruning properties as parquet.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** S4/S7 + A8: parquet result cache keyed by the hash of the
    * query's logical plan (the reference pickles results keyed by
    * mmh3 of the serialized plan, serve.py:38-77).
    */
  object PlanCache {
    def planKey(df: DataFrame): String = {
      val analyzed = df.queryExecution.analyzed
      // canonicalized: expression IDs normalized, so two builds of the
      // same query share a key. Its text names neither the output
      // columns nor a local relation's rows, so two same-shaped
      // `Seq(...).toDF` frames would share a key (and a cached count):
      // the schema and those rows join the hashed text.
      val localRows = analyzed.collectWithSubqueries {
        case r: LocalRelation => r.data
          .map(_.toSeq(r.schema).map(String.valueOf).mkString(","))
          .mkString(";")
      }
      val text = (Seq(analyzed.canonicalized.toString,
        df.schema.catalogString) ++ localRows).mkString("\n")
      MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
        .take(16).map("%02x".format(_)).mkString
    }

    /** Materialize df under its plan hash (no-op when cached);
      * returns the cached frame.
      */
    def materialize(spark: SparkSession, df: DataFrame, cacheDir: String): DataFrame = {
      val target = s"$cacheDir/${planKey(df)}"
      val done = new java.io.File(target, "_SUCCESS")
      if (!done.exists()) df.write.mode("overwrite").parquet(target)
      spark.read.parquet(target)
    }

    // ---- async submit-and-poll (the reference's Celery worker,
    // serve.py:57-107, without the broker): submission returns the
    // plan key immediately, materialization runs on a background
    // thread in its own Spark job group, and pollers read the status
    // until the cache turns Done. On a cluster this is the job
    // server's role; the surface exists so the reference's
    // "start task / poll result_id" flow has a runnable analogue.

    sealed trait Status
    case object Running extends Status
    case class Done(rows: Long) extends Status
    case class Failed(error: String) extends Status

    private val jobs =
      new java.util.concurrent.ConcurrentHashMap[String, Status]()

    private val log = org.slf4j.LoggerFactory.getLogger(getClass)

    /** Run `build` for plan `key` on a background thread in its own
      * Spark job group and return the key at once; the status turns
      * `Done(rows)` with the row count `build` returns. The caller
      * decides what the cache is (and already holds the key, so the
      * plan is not re-analyzed to hash it). Duplicate submissions of an
      * in-flight or finished key are no-ops (idempotent, like the
      * reference's cache check before enqueueing, serve.py:61-66). A
      * failure is logged with its stack trace and recorded as
      * `Failed("<exception class>: <message>")`.
      */
    def submit(spark: SparkSession, key: String, build: () => Long): String = {
      if (jobs.putIfAbsent(key, Running) == null) {
        val t = new Thread(() => {
          try {
            spark.sparkContext.setJobGroup(s"graft-cache-$key",
              s"async materialize $key", interruptOnCancel = true)
            jobs.put(key, Done(build()))
          } catch {
            case e: Throwable =>
              log.error(s"materialization of $key failed", e)
              jobs.put(key, Failed(e.toString))
          } finally spark.sparkContext.clearJobGroup()
        }, s"graft-async-$key")
        t.setDaemon(true)
        t.start()
      }
      key
    }

    /** Submit df's raw-parquet [[materialize]] under its plan key and
      * count the cached rows; [[await]] reads the result back.
      */
    def submit(spark: SparkSession, df: DataFrame, cacheDir: String): String =
      submit(spark, planKey(df),
        () => materialize(spark, df, cacheDir).count())

    /** Poll a submitted key: None = unknown key. */
    def poll(key: String): Option[Status] = Option(jobs.get(key))

    /** Blocking fetch of a finished materialization. */
    def await(spark: SparkSession, key: String, cacheDir: String,
        timeoutMs: Long = 120000): DataFrame = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (poll(key).contains(Running) && System.nanoTime() < deadline)
        Thread.sleep(50)
      poll(key) match {
        case Some(Done(_)) => spark.read.parquet(s"$cacheDir/$key")
        case Some(Failed(e)) => throw new RuntimeException(s"job $key failed: $e")
        case other => throw new RuntimeException(s"job $key not done: $other")
      }
    }
  }
}
