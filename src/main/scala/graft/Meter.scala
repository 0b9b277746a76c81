package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Shuffle/spill meter: runs queries with a SparkListener attached and
  * reports the bytes that actually moved — the numbers behind
  * PLANS.md's plan-shape claims ("the shuffle carries vocab-sized
  * partial counts, not the token stream" is a testable statement:
  * shuffle_write should be KB while input is MB).
  *
  * Usage: runMain graft.Meter [sfDir] [query ...]
  * (no query args = the headline set). One JSON line per query:
  * {"query":…,"sec":…,"input_mb":…,"shuffle_write_mb":…,
  *  "shuffle_read_mb":…,"spill_disk_mb":…,"spill_mem_mb":…,"stages":…}
  */
object Meter {

  private final class Tally extends SparkListener {
    val input = new LongAdder; val sw = new LongAdder; val sr = new LongAdder
    val spillDisk = new LongAdder; val spillMem = new LongAdder
    val stages = new LongAdder
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        input.add(m.inputMetrics.bytesRead)
        sw.add(m.shuffleWriteMetrics.bytesWritten)
        sr.add(m.shuffleReadMetrics.totalBytesRead)
        spillDisk.add(m.diskBytesSpilled)
        spillMem.add(m.memoryBytesSpilled)
        stages.increment()
      }
    }
  }

  val Headline: Seq[String] = Seq(
    "w2_top90", "q5_region_volume", "ns_dedup_exact",
    "ns_dedup_minhash_lsh", "ns_dedup_simhash64", "ns_dedup_clusters",
    "ns_dedup_clusters_star", "ns_span_dedup", "ns_lm_score",
    "ns_tfidf", "ns_knn_ivf", "ns_knn_ivf_indexed", "ns_corpus_build",
    "ns_seq_pack")

  private def mb(n: Long): Double = math.round(n / 1048.576) / 1000.0

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Headline
    val spark = GraftSession.local()
    // warm the session so JVM/codegen startup doesn't pollute query 1
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val tally = new Tally
      spark.sparkContext.addSparkListener(tally)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are posted async; drain before reading
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext, 30000)
      spark.sparkContext.removeSparkListener(tally)
      println(s"""{"query":"$name","sec":${math.round(sec * 1000) / 1000.0},""" +
        s""""input_mb":${mb(tally.input.sum)},""" +
        s""""shuffle_write_mb":${mb(tally.sw.sum)},""" +
        s""""shuffle_read_mb":${mb(tally.sr.sum)},""" +
        s""""spill_disk_mb":${mb(tally.spillDisk.sum)},""" +
        s""""spill_mem_mb":${mb(tally.spillMem.sum)},""" +
        s""""stages":${tally.stages.sum}}""")
    }
    spark.stop()
  }
}
