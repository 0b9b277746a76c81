package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sustained-churn behavior of the BM25 index's already-deleted check
  * (round-18 verdict #3): the `kind=ret` record grows with TOTAL
  * deletes ever issued, and in a keep-best replace workload deletes
  * ARE the steady state — so the exact per-delete anti-join against
  * del ∪ ret eventually pays more than the live index is worth. The
  * flush-maintained ret BLOOM sidecar keeps the steady-state check at
  * O(batch) with zero ret-partition I/O while staying BIT-EXACT: no
  * false negatives, and every bloom positive is re-checked exactly.
  */
class Bm25ChurnSpec extends SparkSpec {

  private def docs = T(spark, sf, "documents")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  /** One deterministic churn history: delete a stripe, flush (del →
    * ret), append replacements with fresh ids — three cycles, so ret
    * spans multiple flush generations.
    */
  private def runChurn(dir: String): Unit = {
    val base = docs.filter(col("doc_id") < 200).select("doc_id", "text")
    Bm25Index.build(base, dir)
    spark.conf.set("spark.graft.bm25.autoFlushRatio", "0")
    try {
      for (cycle <- 0 until 3) {
        val lo = cycle * 50L
        val doomed = spark.range(lo, lo + 50).select(col("id").as("doc_id"))
        assert(Bm25Index.delete(doomed, dir) > 0)
        assert(Bm25Index.flushDeletes(spark, dir) > 0)
        val fresh = docs.filter(col("doc_id") >= 200 + cycle * 50 &&
            col("doc_id") < 250 + cycle * 50)
          .select((col("doc_id") + 100000L * (cycle + 1)).as("doc_id"),
            col("text"))
        Bm25Index.append(fresh, dir)
      }
    } finally spark.conf.unset("spark.graft.bm25.autoFlushRatio")
  }

  test("bloom-gated ret check is bit-equal to the exact form under churn") {
    val dirBloom = Files.createTempDirectory("graft-churn-bloom").toString
    val dirExact = Files.createTempDirectory("graft-churn-exact").toString
    spark.conf.set(Bm25Index.RetCheckConf, "bloom")
    try runChurn(dirBloom)
    finally spark.conf.unset(Bm25Index.RetCheckConf)
    spark.conf.set(Bm25Index.RetCheckConf, "exact")
    try runChurn(dirExact)
    finally spark.conf.unset(Bm25Index.RetCheckConf)
    assert(rows(Bm25Index.topDocs(spark, dirBloom, 10, 3)) ==
      rows(Bm25Index.topDocs(spark, dirExact, 10, 3)),
      "the bloom gate may only skip I/O, never change an answer")
    // the sidecar is present and stamped with the snapshot's retired
    // counter — the validation that makes a torn flush fall back to
    // exact instead of risking a false negative
    assert(Dedup.readSidecar(spark, s"$dirBloom/retbloom.n")
      .map(_.trim).contains("150"),
      "three 50-doc flushes must stamp retired_docs=150")
  }

  test("double-delete of a FLUSHED id stays a no-op in bloom mode") {
    val dir = Files.createTempDirectory("graft-churn-dd").toString
    spark.conf.set(Bm25Index.RetCheckConf, "bloom")
    spark.conf.set("spark.graft.bm25.autoFlushRatio", "0")
    try {
      val base = docs.filter(col("doc_id") < 100).select("doc_id", "text")
      Bm25Index.build(base, dir)
      val doomed = spark.range(0, 20).select(col("id").as("doc_id"))
      assert(Bm25Index.delete(doomed, dir) > 0)
      assert(Bm25Index.flushDeletes(spark, dir) > 0)
      val before = rows(Bm25Index.topDocs(spark, dir, 10, 3))
      val v = Manifest.currentVersion(spark, s"$dir/index")
      // re-deleting flushed ids: every one is a TRUE bloom positive,
      // re-checked exactly, and skipped — no commit, no stat skew
      assert(Bm25Index.delete(doomed, dir) == 0L)
      assert(Manifest.currentVersion(spark, s"$dir/index") == v,
        "an all-no-op delete must not commit a snapshot")
      assert(rows(Bm25Index.topDocs(spark, dir, 10, 3)) == before)

      // a TAMPERED (stale) bloom stamp is refused — the check falls
      // back to the exact anti-join and the no-op still holds
      Dedup.writeSidecar(spark, s"$dir/retbloom.n", "999999")
      assert(Bm25Index.delete(doomed, dir) == 0L)
      assert(rows(Bm25Index.topDocs(spark, dir, 10, 3)) == before)
    } finally {
      spark.conf.unset(Bm25Index.RetCheckConf)
      spark.conf.unset("spark.graft.bm25.autoFlushRatio")
    }
  }
}
