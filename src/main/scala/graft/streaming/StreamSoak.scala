package graft.streaming

import org.apache.spark.sql.functions._

import graft.ops.{Layout, Manifest}

/** Sustained exactly-once soak of the full streaming loop at SfScale
  * mult=10 — ManifestSource (versioned commit log) → incremental LSH
  * dedup (RocksDB keyed state) → ManifestSink (idempotent txn
  * appends) — with a kill mid-stream while commits are PENDING and a
  * restart from the same checkpoint.
  *
  * What it pins (the exactly-once contract end to end):
  *   - no loss: every (doc_id, band_key) the batch signature path
  *     derives from the full corpus reaches the sink table;
  *   - no dupes: the sink holds each band row exactly once, even
  *     though the kill leaves an uncommitted micro-batch that the
  *     restarted incarnation replays (the sink's txnApp watermark
  *     absorbs the replay);
  *   - consistent state recovery: each band bucket has exactly ONE
  *     owner across both incarnations, exactly one row per bucket is
  *     marked first, and every owner actually presented that band key
  *     (the bucket map came back from RocksDB, not recomputed).
  *
  * The feeder appends the corpus in chunks to the source table's
  * commit log, draining a few batches per chunk — sustained
  * commit-follow, not one bulk batch. The kill happens with appended
  * but unconsumed versions in the log.
  *
  * Usage: runMain graft.streaming.StreamSoak [srcSfDir] [outJson]
  *   (srcSfDir defaults to target/sf1 — the SfScale mult=10 corpus;
  *    outJson defaults to SOAK_r13.json)
  */
object StreamSoak {

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("target/sf1")
    val outJson = args.lift(1).getOrElse("SOAK_r13.json")
    val spark = graft.GraftSession.local()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    import spark.implicits._

    val t0 = System.nanoTime()
    def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

    val scratch = java.nio.file.Files
      .createTempDirectory("graft-soak").toString
    val inDir = s"$scratch/in"
    val outDir = s"$scratch/out"
    val ck = s"$scratch/ck"

    // ---- corpus: the mult=10 documents, chunked by doc_id hash so
    // every chunk mixes originals and their planted near-dup variants
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val chunks = 20
    val chunked = docs
      .withColumn("chunk", pmod(xxhash64(col("doc_id")), lit(chunks)))
      .localCheckpoint(true)
    val nDocs = chunked.count()

    // ---- seed the source table with chunk 0, sink with a 0-row
    // commit (the sink aligns batches to the table's schema)
    chunked.filter(col("chunk") === 0).drop("chunk")
      .write.mode("overwrite").parquet(inDir)
    Manifest.ensure(spark, inDir, Seq("doc_id"))
    spark.emptyDataset[DedupStream.BandDecision].toDF()
      .coalesce(1).write.mode("overwrite").parquet(outDir)
    Manifest.ensure(spark, outDir, Seq("doc_id"))
    val seedVersion = Manifest.currentVersion(spark, outDir).get

    def appendChunk(i: Int): Unit =
      Layout.appendInPlace(spark, inDir,
        chunked.filter(col("chunk") === i).drop("chunk"),
        statCols = Seq("doc_id"), txnApp = Some("soak-feeder" -> i.toLong))

    def startQuery() = {
      val src = spark.readStream.format("graft.sources.ManifestSource")
        .option("path", inDir).load()
        .select(col("doc_id"), col("text"))
      ManifestSink.start(
        DedupStream.incrementalDedup(spark, src).toDF(),
        outDir, ck, statCols = Seq("doc_id"), appId = Some("soak-dedup"))
    }

    // ---- incarnation 1: follow chunks 1..9 commit by commit, then
    // append 10..12 and KILL without draining — three versions sit
    // unconsumed in the log and the in-flight batch dies uncommitted
    val killAt = 10
    val t1 = System.nanoTime()
    val q1 = startQuery()
    q1.processAllAvailable() // seed chunk
    (1 until killAt).foreach { i => appendChunk(i); q1.processAllAvailable() }
    (killAt until killAt + 3).foreach(appendChunk)
    q1.stop()
    val inc1 = secs(t1)

    // ---- incarnation 2: restart from the same checkpoint, feed the
    // remainder, drain everything
    val t2 = System.nanoTime()
    val q2 = startQuery()
    (killAt + 3 until chunks).foreach { i =>
      appendChunk(i); q2.processAllAvailable()
    }
    q2.processAllAvailable()
    q2.stop()
    val inc2 = secs(t2)

    // ---- exactly-once audit vs the batch signature path
    val expected = DedupStream.bandRows(docs)
      .select("doc_id", "band_key").localCheckpoint(true)
    val nExpected = expected.count()
    val got = Manifest.readTable(spark, outDir)
      .select("doc_id", "band_key", "owner_id", "is_first")
      .localCheckpoint(true)
    val nGot = got.count()
    val nGotDistinct = got.select("doc_id", "band_key").distinct().count()
    val lost = expected.join(got, Seq("doc_id", "band_key"), "left_anti")
      .count()
    val phantom = got.select("doc_id", "band_key")
      .join(expected, Seq("doc_id", "band_key"), "left_anti").count()
    val multiOwner = got.groupBy("band_key")
      .agg(countDistinct("owner_id").as("owners"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("firsts"))
      .filter(col("owners") =!= 1L || col("firsts") =!= 1L).count()
    // every bucket owner must itself have presented that band key
    val ghostOwners = got.select(col("band_key"),
        col("owner_id").as("doc_id")).distinct()
      .join(expected, Seq("doc_id", "band_key"), "left_anti").count()
    val outVersions = Manifest.currentVersion(spark, outDir).get - seedVersion

    val ok = nGot == nExpected && nGotDistinct == nExpected &&
      lost == 0 && phantom == 0 && multiOwner == 0 && ghostOwners == 0
    val json =
      s"""{"soak":"manifest_dedup_stream","mult":10,"src":"$srcDir",""" +
      s""""docs":$nDocs,"chunks":$chunks,"killed_after_chunk":${killAt - 1},""" +
      s""""pending_at_kill":3,"expected_band_rows":$nExpected,""" +
      s""""sink_rows":$nGot,"sink_distinct":$nGotDistinct,"lost":$lost,""" +
      s""""phantom":$phantom,"multi_owner_buckets":$multiOwner,""" +
      s""""ghost_owners":$ghostOwners,"sink_commits":$outVersions,""" +
      f""""incarnation1_sec":$inc1%.1f,"incarnation2_sec":$inc2%.1f,""" +
      f""""total_sec":${secs(t0)}%.1f,"exactly_once":$ok}"""
    println(s"[soak] $json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
