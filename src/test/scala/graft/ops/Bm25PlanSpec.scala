package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape pin for the persisted BM25 index probe: the scale claim
  * is that a probe reads only (a) the vocab-sized `kind=df` partition
  * for the term pick and (b) the postings files whose bucket range
  * meets a bucket the chosen terms hash to, with the bucket and term
  * IN-filters pushed into the parquet read — never the whole postings
  * table. Asserted on the executed plan's scan nodes, not prose.
  */
class Bm25PlanSpec extends SparkSpec {

  test("probe scans prune kind partitions and bucket ranges, push the token filter") {
    val docs = T(spark, sf, "documents")
    val dir = Files.createTempDirectory("bm25-plan").toString
    // a build over 16 uncoalesced range partitions: the postings are
    // 16 files with disjoint bucket ranges
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try Bm25Index.build(docs, dir)
    finally {
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
    val probe = Bm25Index.topDocs(spark, dir, 10, 3)
    val ex = probe.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

    // postings scan: kind=post partition filter, and exactly the post
    // files whose bucket range meets a probed term's bucket, with the
    // bucket and token IN-filters pushed down
    val postScan = ex.linesIterator
      .filter(_.contains("PartitionFilters")).find(_.contains("= post"))
    assert(postScan.isDefined, s"no kind=post partition filter:\n$ex")
    val buckets = probe.select(pmod(xxhash64(col("token")),
        lit(Bm25Index.Buckets.toLong))).distinct().collect()
      .map(_.getLong(0)).sorted
    val posts = Manifest.read(spark, s"$dir/index").get
      .filter(_.name.startsWith("kind=post/"))
    val want = posts.filter(Manifest.entryMeets("bucket", buckets))
      .map(e => new org.apache.hadoop.fs.Path(e.name).getName).toSet
    assert(want.nonEmpty && want.size < posts.size, want)
    // the postings read is the one relation holding only post files
    // (the df/stat/del phases read the whole snapshot, partition-
    // filtered to their kinds)
    val scanned = probe.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq
    }.filter(_.forall(_.contains("/kind=post/"))).flatten
      .map(new org.apache.hadoop.fs.Path(_).getName).toSet
    assert(scanned == want)
    assert(ex.contains("In(bucket,") && ex.contains("In(token,"),
      "bucket/token IN-filters not pushed to the postings parquet scan")
    // the stat fold reads only its own partition
    assert(ex.linesIterator.filter(_.contains("PartitionFilters"))
      .exists(_.contains("= stat")), "no kind=stat partition filter")
  }

  test("tombstone subtraction is GATED: broadcast under, shuffle over, skip at zero") {
    val docs = T(spark, sf, "documents")
    val dir = Files.createTempDirectory("bm25-delgate").toString
    spark.conf.set("spark.graft.bm25.autoFlushRatio", "0")
    // the pin is about the GATE's hint, not the planner's own
    // size-estimate broadcast (the del set is tiny at fixture scale,
    // so stats-auto-broadcast would mask the fallback direction) —
    // same discipline as CorpusIncrSpec's gate pins
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bm25Index.build(docs.filter(col("doc_id") % 4 =!= 3), dir)
      Bm25Index.append(docs.filter(col("doc_id") % 4 === 3), dir)

      // ZERO tombstones: the counter record proves it, so the probe
      // plan carries NO anti-join at all
      val clean = Bm25Index.topDocs(spark, dir, 10, 3)
      val cleanEx = clean.queryExecution.executedPlan.toString
      assert(!cleanEx.contains("LeftAnti"),
        s"a tombstone-free probe must skip the subtraction join:\n$cleanEx")
      val cleanRows = clean.collect().map(_.toSeq).toSeq

      Bm25Index.delete(docs.filter(col("doc_id") % 4 === 3)
        .select("doc_id"), dir): Unit
      val expect = Analysis.bm25TopDocs(
        docs.filter(col("doc_id") % 4 =!= 3), 10, 3)
        .collect().map(_.toSeq).toSeq

      // UNDER the gate (default 4M rows): broadcast anti-join
      val under = Bm25Index.topDocs(spark, dir, 10, 3)
      val underEx = under.queryExecution.executedPlan.toString
      assert(underEx.contains("BroadcastHashJoin") &&
        underEx.contains("LeftAnti"),
        s"under-gate probe must broadcast the del set:\n$underEx")
      assert(under.collect().map(_.toSeq).toSeq == expect)

      // OVER the gate: plain shuffled anti-join, identical answers —
      // the del set never has to fit one executor at 100 TB
      spark.conf.set("spark.graft.bm25.delBroadcastRows", "0")
      val over = Bm25Index.topDocs(spark, dir, 10, 3)
      val overEx = over.queryExecution.executedPlan.toString
      val antiLines = overEx.linesIterator
        .filter(_.contains("LeftAnti")).toSeq
      assert(antiLines.nonEmpty &&
        antiLines.forall(!_.contains("BroadcastHashJoin")),
        s"over-gate probe must not broadcast:\n$overEx")
      assert(over.collect().map(_.toSeq).toSeq == expect)

      // flushDeletes under the same over-gate setting: shuffled too,
      // results unchanged, and the probe drops its join again
      assert(Bm25Index.flushDeletes(spark, dir) > 0)
      val flushed = Bm25Index.topDocs(spark, dir, 10, 3)
      assert(!flushed.queryExecution.executedPlan.toString
        .contains("LeftAnti"))
      assert(flushed.collect().map(_.toSeq).toSeq == expect)
      assert(cleanRows != expect,
        "fixture sanity: the delete must actually change the top docs")
    } finally {
      spark.conf.unset("spark.graft.bm25.autoFlushRatio")
      spark.conf.unset("spark.graft.bm25.delBroadcastRows")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("the auto-flush ratio check after a delete costs ZERO Spark jobs") {
    val docs = T(spark, sf, "documents")
    val dirOn = Files.createTempDirectory("bm25-jobs-on").toString
    val dirOff = Files.createTempDirectory("bm25-jobs-off").toString
    Bm25Index.build(docs, dirOn)
    Bm25Index.build(docs, dirOff)
    val doomed = docs.filter(col("doc_id") % 50 === 3).select("doc_id")

    def jobsDuring(f: => Unit): Int = metered(f)._2.jobs.size

    // ratio DISABLED: maybeAutoFlush body never runs — the baseline
    spark.conf.set("spark.graft.bm25.autoFlushRatio", "0")
    val offJobs = jobsDuring {
      Bm25Index.delete(doomed, dirOff): Unit
    }
    spark.conf.unset("spark.graft.bm25.autoFlushRatio")
    // ratio ENABLED but far under threshold (2% < 10%): the check runs
    // off the snapshot counters — SAME job count as not checking
    val onJobs = jobsDuring {
      Bm25Index.delete(doomed, dirOn): Unit
    }
    assert(onJobs == offJobs,
      s"the metadata-only ratio check must add no jobs: $onJobs vs $offJobs")
  }
}
