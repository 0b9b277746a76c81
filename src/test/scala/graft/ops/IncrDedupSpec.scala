package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkSpec

/** Incremental dedup against the persisted LSH band index
  * ([[Dedup.lshIndexBuild]]/[[Dedup.dedupIncr]]): decision parity
  * with the full in-memory pair list, the fixture's guarantee that
  * both duplicate classes occur, and the file pruning the clustered
  * layout exists for: a probe scans exactly the index files whose
  * recorded `kh` range meets one of its keys.
  */
class IncrDedupSpec extends SparkSpec {

  /** The index files (entry names) a probe's plan scans. */
  private def scanned(df: DataFrame, dir: String): Set[String] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }.flatten.filter(_.contains(s"$dir/bands/"))
      .map(new org.apache.hadoop.fs.Path(_).getName).toSet

  /** The band-key hashes `batch` probes with, sorted: the `kh` values
    * of an index built over the batch alone.
    */
  private def probedKeys(batch: DataFrame): Array[Long] = {
    val kdir = Files.createTempDirectory("graft-lshidx-keys").toString
    Dedup.lshIndexBuild(batch, kdir)
    Dedup.readIndexBands(spark, kdir).select("kh").collect()
      .map(_.getLong(0)).distinct.sorted
  }

  /** The entries of the index at `dir` whose `kh` range meets `keys`. */
  private def meeting(dir: String, keys: Array[Long]): Set[String] =
    Manifest.read(spark, s"$dir/bands").get
      .filter(Manifest.entryMeets("kh", keys)).map(_.name).toSet

  test("batch decisions match the full pair list and prune files") {
    val docs = T(spark, sf, "documents")
    val dir = Files.createTempDirectory("graft-lshidx-spec").toString
    // a build over 16 uncoalesced range partitions: the index is 16
    // files with disjoint kh ranges, so pruning has files to skip
    val confs = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "16")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try Dedup.lshIndexBuild(Dedup.incrBase(docs), dir)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(Manifest.read(spark, s"$dir/bands").get.size == 16)

    val res = Dedup.dedupIncr(docs, dir, 0.5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

    // the % 50 / % 30 = 7 split guarantees both dup classes at any SF
    // (% 50: original+variant both in the batch -> dup_batch;
    // % 30 = 7: original in the batch, variant in the base ->
    // dup_corpus; see Dedup.incrBatchPred)
    val decisions = res.map(_._2).toSet
    assert(decisions == Set("dup_corpus", "dup_batch", "kept"), decisions)

    // recompute expected decisions from the FULL corpus pair list
    // (index + probe must find exactly the pairs one big LSH run finds)
    val batchIds = Dedup.incrBatch(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup
      .minhashPairs(Dedup.corpusWithVariants(docs), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = batchIds.toSeq.sorted.map { d =>
      val corpusMatches = pairs.collect {
        case (a, b) if a == d && !batchIds(b) => b
        case (a, b) if b == d && !batchIds(a) => a
      }
      val batchMatches = pairs.collect {
        case (a, b) if b == d && batchIds(a) => a
      }
      if (corpusMatches.nonEmpty) (d, "dup_corpus", corpusMatches.min)
      else if (batchMatches.nonEmpty) (d, "dup_batch", batchMatches.min)
      else (d, "kept", -1L)
    }
    assert(res.toSeq == expected)

    // a one-doc batch probes 8 keys: its scan reads exactly the files
    // whose kh range meets one of them — fewer than all 16 — and
    // decides as the unpruned (shuffled, past-gate) probe does
    val one = Dedup.incrBatch(docs).orderBy("doc_id").limit(1)
    val want = meeting(dir, probedKeys(one))
    assert(want.nonEmpty && want.size < 16, want)
    val pruned = Dedup.dedupBatchVsIndex(one, dir, 0.5)
    assert(scanned(pruned, dir) == want)
    val pr = pruned.collect().toSeq
    spark.conf.set("spark.graft.incrBroadcastBatch", "false")
    try {
      val full = Dedup.dedupBatchVsIndex(one, dir, 0.5)
      assert(scanned(full, dir).size == 16)
      assert(full.collect().toSeq == pr)
    } finally spark.conf.unset("spark.graft.incrBroadcastBatch")
  }

  test("broadcast gate is MEASURED: boundary flips the plan, decisions don't change") {
    val docs = T(spark, sf, "documents")
    val dir = Files.createTempDirectory("graft-lshidx-gate").toString
    Dedup.lshIndexBuild(Dedup.incrBase(docs), dir)
    val batch = Dedup.incrBatch(docs)
    val bandRows = batch.count() * Dedup.Bands

    // with autoBroadcastJoinThreshold=-1 below, the ONLY possible
    // BroadcastHashJoin is the gate's hinted probe join — its
    // presence/absence is the gate's plan observable. (DPP is NOT the
    // observable: past the gate Spark still runs the pruning filter
    // as an independent subquery when it estimates benefit, which is
    // correct and desirable at backfill scale.)
    def bcast(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

    val rowsKey = "spark.graft.incrBroadcastRows"
    val forceKey = "spark.graft.incrBroadcastBatch"
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val savedAuto = spark.conf.get(autoKey)
    try {
      // at fixture scale the planner would auto-broadcast the tiny
      // batch side regardless of our hint, masking the gate; disable
      // auto-broadcast so the gate is the only decider — which is
      // the real situation for any batch big enough to be gated
      spark.conf.set(autoKey, "-1")
      // exactly AT the gate (threshold == measured band rows): the
      // broadcast fires, and the scan reads only the files whose kh
      // range meets a probed key
      spark.conf.set(rowsKey, bandRows.toString)
      val at = Dedup.dedupBatchVsIndex(batch, dir, 0.5)
      assert(bcast(at), "at-gate batch should broadcast into the index scan")
      assert(scanned(at, dir) == meeting(dir, probedKeys(batch)))
      val atRows = run(at)

      // one band row PAST the gate: automatic shuffled fallback (the
      // backfill posture — a shuffled index join instead of a driver
      // OOM under a forced broadcast)
      spark.conf.set(rowsKey, (bandRows - 1).toString)
      val past = Dedup.dedupBatchVsIndex(batch, dir, 0.5)
      assert(!bcast(past), "past-gate batch must plan the shuffled join")
      assert(scanned(past, dir) == meeting(dir, Array.empty[Long]) ++
        Manifest.read(spark, s"$dir/bands").get.map(_.name))
      assert(run(past) == atRows, "gate changes the plan, never the answer")

      // the config override still forces either path regardless of size
      spark.conf.set(forceKey, "true")
      assert(bcast(Dedup.dedupBatchVsIndex(batch, dir, 0.5)))
      spark.conf.set(forceKey, "false")
      spark.conf.set(rowsKey, bandRows.toString)
      assert(!bcast(Dedup.dedupBatchVsIndex(batch, dir, 0.5)))
    } finally {
      spark.conf.unset(rowsKey)
      spark.conf.unset(forceKey)
      spark.conf.set(autoKey, savedAuto)
    }
  }
}
