package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The LSH ingest index as a manifest-managed table (round 16):
  * build/append/compact are versioned snapshot commits, so
  * maintenance is crash-safe (no instant with no live index) and a
  * probe pinned to a version reads consistent results while newer
  * commits land — the two properties the old write-tmp/delete/rename
  * swap could not give.
  */
class LshManifestSpec extends SparkSpec {

  private def decisions(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  test("append commits a version; a probe pinned to the old one is unchanged") {
    val docs = T(spark, sf, "documents")
    val dir = Files.createTempDirectory("graft-lsh-mf-pin").toString
    Dedup.lshIndexBuild(Dedup.incrLoopBase(docs), dir)
    assert(Dedup.lshIndexVersion(spark, dir).contains(1))

    val batch1 = Dedup.incrLoopBatch(docs, 1)
    val atV1 = decisions(Dedup.dedupBatchVsIndex(batch1, dir, 0.5))
    val rowsV1 = Dedup.readIndexBands(spark, dir).count()

    // append batch 1's kept docs -> v2
    val kept = Dedup.dedupBatchVsIndex(batch1, dir, 0.5)
      .filter(col("decision") === "kept").select("doc_id")
    Dedup.lshIndexAppend(
      Dedup.corpusWithVariants(docs).join(kept, "doc_id"), dir)
    assert(Dedup.lshIndexVersion(spark, dir).contains(2))

    // the pinned probe still sees exactly the v1 index: same band
    // rows, same decisions — while the CURRENT probe sees the append
    // (batch docs now collide with their own appended rows)
    assert(Dedup.readIndexBands(spark, dir, Some(1)).count() == rowsV1)
    assert(Dedup.readIndexBands(spark, dir).count() > rowsV1)
    assert(decisions(
      Dedup.dedupBatchVsIndex(batch1, dir, 0.5, version = Some(1))) == atV1)
    assert(decisions(Dedup.dedupBatchVsIndex(batch1, dir, 0.5)) != atV1,
      "a current-version probe must see the appended docs")
  }

  test("clone is independent: probes agree, mutating the clone leaves the master") {
    val docs = T(spark, sf, "documents")
    val master = Files.createTempDirectory("graft-lsh-clone-src").toString
    Dedup.lshIndexBuild(Dedup.incrBase(docs), master)
    val copy = Files.createTempDirectory("graft-lsh-clone-dst").toString
    Dedup.lshIndexClone(spark, master, copy)
    val batch = Dedup.incrBatch(docs)
    assert(decisions(Dedup.dedupBatchVsIndex(batch, copy, 0.5)) ==
      decisions(Dedup.dedupBatchVsIndex(batch, master, 0.5)))
    // mutate the clone (keep-best apply deletes + appends); the
    // master's snapshot and decisions are untouched
    val masterV = Dedup.lshIndexVersion(spark, master)
    val before = decisions(Dedup.dedupBatchVsIndex(batch, master, 0.5))
    Dedup.dedupBatchVsIndexKeepBestApply(batch, copy, 0.5).collect(): Unit
    assert(Dedup.lshIndexVersion(spark, master) == masterV)
    assert(decisions(Dedup.dedupBatchVsIndex(batch, master, 0.5)) == before)
    assert(Dedup.lshIndexVersion(spark, copy).exists(v =>
      v > masterV.get || v >= 2), "the clone must have advanced")
  }

  test("kill-mid-compact leaves the index readable; staged files are invisible") {
    val docs = T(spark, sf, "documents")
    val dir = Files.createTempDirectory("graft-lsh-mf-crash").toString
    Dedup.lshIndexBuild(Dedup.incrLoopBase(docs), dir)
    (1 to 2).foreach { k =>
      Dedup.lshIndexAppend(Dedup.incrLoopBatch(docs, k), dir)
    }
    val batch = Dedup.incrLoopBatch(docs, 3)
    val before = decisions(Dedup.dedupBatchVsIndex(batch, dir, 0.5))
    val rowsBefore = Dedup.readIndexBands(spark, dir).count()
    val vBefore = Dedup.lshIndexVersion(spark, dir).get

    // simulate a compaction crash AFTER landing rewritten files but
    // BEFORE the manifest commit: a compacted-looking sibling appears
    // beside the index's files. The manifest is the table, so the
    // orphan is invisible — row count, decisions, version unchanged.
    val bucketDir = new java.io.File(s"$dir/bands")
    val donor = bucketDir.listFiles
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(donor.toPath,
      bucketDir.toPath.resolve(s"compact-v99-${donor.getName}"))
    assert(Dedup.lshIndexVersion(spark, dir).contains(vBefore))
    assert(Dedup.readIndexBands(spark, dir).count() == rowsBefore,
      "a staged-but-uncommitted file leaked into the read")
    assert(decisions(Dedup.dedupBatchVsIndex(batch, dir, 0.5)) == before)

    // recovery is just running compaction again: it commits the next
    // version, decisions stay bit-identical, and vacuum reclaims both
    // the superseded originals and the crashed orphan
    Dedup.lshIndexCompact(spark, dir)
    assert(Dedup.lshIndexVersion(spark, dir).contains(vBefore + 1))
    assert(Dedup.readIndexBands(spark, dir).count() == rowsBefore)
    assert(decisions(Dedup.dedupBatchVsIndex(batch, dir, 0.5)) == before)
    Dedup.lshIndexVacuum(spark, dir, keepVersions = 1)
    def orphanGone = !bucketDir.listFiles
      .exists(_.getName.startsWith("compact-v99-"))
    assert(orphanGone, "vacuum should reclaim the crashed writer's file")
    assert(decisions(Dedup.dedupBatchVsIndex(batch, dir, 0.5)) == before)
  }

  test("probe with a mismatched/missing geometry sidecar hard-fails") {
    val docs = T(spark, sf, "documents")
    val dir = Files.createTempDirectory("graft-lsh-mf-geo").toString
    Dedup.lshIndexBuild(Dedup.incrLoopBase(docs), dir)
    val geo = new java.io.File(s"$dir/geometry")
    val crc = new java.io.File(s"$dir/.geometry.crc")
    java.nio.file.Files.write(geo.toPath, "bands=9 buckets=7 sig=3".getBytes)
    if (crc.exists()) crc.delete()
    // round-15 advisor (medium): the PROBE must check the sidecar too,
    // not just the append — probing under a different geometry would
    // silently match nothing and leak every duplicate through as kept
    val ex = intercept[IllegalArgumentException] {
      Dedup.dedupBatchVsIndex(Dedup.incrLoopBatch(docs, 1), dir, 0.5)
        .collect()
    }
    assert(ex.getMessage.contains("geometry"))
    // compaction checks it too
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.lshIndexCompact(spark, dir)
    }
    assert(ex2.getMessage.contains("geometry"))
    geo.delete()
    val ex3 = intercept[RuntimeException] {
      Dedup.dedupBatchVsIndex(Dedup.incrLoopBatch(docs, 1), dir, 0.5)
        .collect()
    }
    assert(ex3.getMessage.contains("geometry sidecar"))
  }
}
