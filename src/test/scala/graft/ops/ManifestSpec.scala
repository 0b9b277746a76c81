package graft.ops

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

/** The versioned layout manifest, cross-checked against ground truth:
  *
  *  - FAITHFUL: the manifest's per-file min/max must equal what the
  *    parquet footers themselves record, so manifest pruning selects
  *    EXACTLY the candidate set footer-based planning would — same
  *    skipping power, one metadata read instead of #files footer opens.
  *  - CORRECT: a manifest-pruned rectangle query returns the same rows
  *    as the full-directory scan (pruning may only skip provably
  *    non-matching files).
  *  - INCREMENTAL: a copy-on-write delete carries untouched files'
  *    entries forward verbatim (metadata-only, no data read) and bumps
  *    the version — the property that keeps a 100 TB delete commit
  *    proportional to affected files.
  */
class ManifestSpec extends SparkSpec {

  /** Per-file (min, max) of `column` straight from the parquet footer —
    * the independent ground truth the manifest must reproduce.
    */
  private def footerRange(p: Path, column: String): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val ranges = rd.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column).map { c =>
          val st = c.getStatistics
          (st.genericGetMin.toString.toLong, st.genericGetMax.toString.toLong)
        }
      }
      (ranges.map(_._1).min, ranges.map(_._2).max)
    } finally rd.close()
  }

  private def parquetFiles(dir: String): Seq[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    fs.listStatus(new Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq.sortBy(_.getName)
  }

  test("manifest pruning selects exactly the footer-stats candidate set") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val zDir = java.nio.file.Files.createTempDirectory("graft-mf-z").toString
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", zDir, nFiles = 16)

    val (xLo, xHi, yLo, yHi) = (10L, 30L, 1L, 4L)
    val pruned = Manifest.prunedPaths(spark, zDir, Seq(
        ("l_partkey", xLo, xHi), ("l_suppkey", yLo, yHi)))
      .get.map(p => new Path(p).getName).toSet

    val footerSet = parquetFiles(zDir).filter { p =>
      val (pxMin, pxMax) = footerRange(p, "l_partkey")
      val (syMin, syMax) = footerRange(p, "l_suppkey")
      pxMax >= xLo && pxMin <= xHi && syMax >= yLo && syMin <= yHi
    }.map(_.getName).toSet

    assert(pruned == footerSet,
      s"manifest selected $pruned but footers say $footerSet")
    val total = parquetFiles(zDir).size
    assert(pruned.size < total,
      s"rectangle must prune something: kept ${pruned.size} of $total")
    info(s"manifest kept ${pruned.size} of $total files, " +
      s"identical to footer-stat planning")
  }

  test("manifest-pruned rectangle query equals the full scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val zDir = java.nio.file.Files.createTempDirectory("graft-mf-eq").toString
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", zDir, nFiles = 16)

    val viaManifest =
      Layout.zorderRectManifest(spark, zDir, 10, 30, 1, 4).collect().toSeq
    val fullScan =
      Layout.zorderRect(spark.read.parquet(zDir), 10, 30, 1, 4)
        .collect().toSeq
    assert(viaManifest == fullScan)
    assert(fullScan.nonEmpty, "fixture rectangle must be non-empty")
  }

  test("copy-on-write delete commits an incremental, versioned manifest") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-mf-src").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-mf-out").toString
    docs.repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(srcDir)

    val (hit, total) = Layout.deleteRewrite(spark, srcDir, outDir,
      col("doc_id").between(100, 140), statCols = Seq("doc_id"))
    assert(hit > 0 && hit < total)

    val srcByName = Manifest.read(spark, srcDir).get.map(e => e.name -> e).toMap
    val outEntries = Manifest.read(spark, outDir).get
    // every carried entry is its source entry verbatim (stats, rows,
    // bytes) under the carry- name: the commit read no carried data
    val carried = outEntries.filter(_.name.startsWith("carry-"))
    assert(carried.size == total - hit)
    carried.foreach { e =>
      val src = srcByName(e.name.stripPrefix("carry-"))
      assert(e.copy(name = src.name) == src,
        s"carried entry must be metadata-only: $e vs $src")
    }
    // rewritten files are present with fresh stats covering no deleted id
    val rewritten = outEntries.filterNot(_.name.startsWith("carry-"))
    assert(rewritten.nonEmpty)
    // version bumped over the source's
    assert(Manifest.currentVersion(spark, outDir).get ==
      Manifest.currentVersion(spark, srcDir).get + 1)
    // the manifest IS the table: reading through it matches the oracle set
    val got = Layout.contentFingerprint(Manifest.readTable(spark, outDir))
      .collect().toSeq
    val expected = Layout.contentFingerprint(
      docs.filter(!col("doc_id").between(100, 140))).collect().toSeq
    assert(got == expected)
  }

  test("in-place delete is a metadata swap; history time-travels; vacuum reclaims") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-ip").toString
    docs.repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)

    val pred = col("doc_id").between(100, 140)
    val (hit, total) = Layout.deleteInPlace(spark, dir, pred,
      statCols = Seq("doc_id"))
    assert(hit > 0 && hit < total)

    // untouched entries transferred VERBATIM into v2 — same name, same
    // stats, no data read, no copy on disk
    val v1 = Manifest.readVersion(spark, dir, 1).get.map(e => e.name -> e).toMap
    val v2 = Manifest.readVersion(spark, dir, 2).get
    val carried = v2.filterNot(_.name.startsWith("delta-"))
    assert(carried.size == total - hit)
    carried.foreach(e => assert(v1(e.name) == e,
      s"in-place carry must be metadata-only: $e"))
    assert(v2.exists(_.name.contains("delta-v2-")))

    // current read = post-delete; v1 read = the full pre-delete table
    val expectedAfter = Layout.contentFingerprint(docs.filter(!pred))
      .collect().toSeq
    val expectedBefore = Layout.contentFingerprint(docs).collect().toSeq
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expectedAfter)
    assert(Layout.contentFingerprint(
      Manifest.readTable(spark, dir, version = Some(1)))
      .collect().toSeq == expectedBefore)

    // vacuum drops exactly the superseded files; current stays intact,
    // time travel to v1 is retired
    val removed = Manifest.vacuum(spark, dir, keepVersions = 1)
    assert(removed == hit, s"vacuum removed $removed, expected $hit")
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expectedAfter)
    intercept[Exception] {
      Manifest.readTable(spark, dir, version = Some(1)).collect()
    }
    // and a second vacuum is a no-op
    assert(Manifest.vacuum(spark, dir, keepVersions = 1) == 0)
  }

  test("in-place delete preserves Hive partitioning: deltas land beside originals") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-ipp").toString
    docs.write.mode("overwrite").partitionBy("source").parquet(dir)

    val pred = col("doc_id").between(50, 200)
    val (hit, total) = Layout.deleteInPlace(spark, dir, pred,
      statCols = Seq("doc_id"))
    assert(hit > 0)

    val v2 = Manifest.read(spark, dir).get
    // delta files live INSIDE the partition directories at the same
    // depth as the originals (source=a/delta-v2-part-*), so the
    // partition column survives and the tree never mixes depths
    val deltas = v2.filter(_.name.contains("delta-v2-"))
    assert(deltas.nonEmpty)
    assert(deltas.forall(e => e.name.split('/').dropRight(1)
        .exists(_.startsWith("source="))),
      s"delta entries must sit under partition dirs: ${deltas.map(_.name)}")

    val got = Manifest.readTable(spark, dir)
    assert(got.columns.contains("source"),
      "partition column must survive an in-place delete")
    assert(got.filter(pred).count() == 0)
    val expected = Layout.contentFingerprint(docs.filter(!pred))
      .collect().toSeq
    assert(Layout.contentFingerprint(got).collect().toSeq == expected)
    // time travel still sees the pre-delete partitioned table
    val v1 = Manifest.readTable(spark, dir, version = Some(1))
    assert(Layout.contentFingerprint(v1).collect().toSeq ==
      Layout.contentFingerprint(docs).collect().toSeq)
    // vacuum reclaims the superseded originals inside partition dirs
    assert(Manifest.vacuum(spark, dir, keepVersions = 1) == hit)
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expected)
  }

  test("in-place upsert replaces keys, inserts new ones, prunes via stats") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-up").toString
    docs.repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)

    // a key-LOCAL batch: updates confined to one narrow id band, so
    // manifest range pruning must keep the affected-file count small
    val updates = docs.filter(col("doc_id").between(120, 160))
      .withColumn("text", concat(lit("u:"), col("text")))
      .unionByName(docs.filter(col("doc_id").between(120, 125))
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(lit("n:"), col("text"))))
    val (hit, total) = Layout.upsertInPlace(spark, dir, updates, "doc_id",
      statCols = Seq("doc_id"))
    assert(hit > 0 && hit <= total / 4,
      s"a 41-id update band must hit few of $total files, hit $hit")

    val now = Manifest.readTable(spark, dir)
    // updated keys carry the new text, exactly once
    val upd = now.filter(col("doc_id").between(120, 160))
    assert(upd.count() ==
      docs.filter(col("doc_id").between(120, 160)).count())
    assert(upd.filter(!col("text").startsWith("u:")).count() == 0,
      "every key in the band must carry the updated text")
    // new keys inserted
    assert(now.filter(col("doc_id") >= 1000000L).count() ==
      docs.filter(col("doc_id").between(120, 125)).count())
    // untouched rows untouched (fingerprint over the complement)
    val untouchedIds = !col("doc_id").between(120, 160) &&
      col("doc_id") < 1000000L
    assert(Layout.contentFingerprint(now.filter(untouchedIds))
      .collect().toSeq ==
      Layout.contentFingerprint(docs.filter(untouchedIds)).collect().toSeq)
    // history: v1 is the pre-upsert table; vacuum retires it
    assert(Layout.contentFingerprint(
      Manifest.readTable(spark, dir, version = Some(1)))
      .collect().toSeq ==
      Layout.contentFingerprint(docs).collect().toSeq)
    assert(Manifest.vacuum(spark, dir, keepVersions = 1) == hit)
  }

  test("in-place compaction swaps small files for merged ones, history intact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-opt").toString
    // tiny cap forces the small-file debt OPTIMIZE exists to fix
    Pipeline.writeShards(docs, dir, maxRecordsPerFile = 5)

    val (before, after) = Layout.compactInPlace(spark, dir,
      statCols = Seq("doc_id"))
    assert(after < before, s"compaction must shrink: $before -> $after")
    val nSources = docs.select("source").distinct.count().toInt
    assert(after == nSources, s"expected 1 merged file per source")

    val v2 = Manifest.read(spark, dir).get
    val merged = v2.count(_.name.contains("compact-v2-"))
    assert(merged == after)
    assert(v2.forall(e => e.name.split('/').dropRight(1)
      .exists(_.startsWith("source="))), "merged files stay partitioned")

    // byte-lossless swap, partition column intact
    val expected = Layout.contentFingerprint(docs).collect().toSeq
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expected)
    // v1 still reads the pre-compaction small files
    assert(Layout.contentFingerprint(
      Manifest.readTable(spark, dir, version = Some(1)))
      .collect().toSeq == expected)
    // vacuum reclaims every superseded small file, current still reads
    assert(Manifest.vacuum(spark, dir, keepVersions = 1) == before - (after - merged))
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expected)
  }

  test("edge cases: no-match DV delete installs no vector; all-new upsert inserts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-edge").toString
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)

    // delete matching nothing: version bumps (the commit happened) but
    // no vector is installed, so reads stay join-free
    val (marked, _) = Layout.deleteMergeOnRead(spark, dir,
      col("doc_id") === -1L, Seq("doc_id"))
    assert(marked == 0)
    assert(!Manifest.hasDeletionVectors(spark, dir))
    assert(Manifest.readTable(spark, dir).count() == docs.count())

    // upsert whose keys are ALL new: no file is affected, the batch
    // simply inserts
    val batch = docs.limit(7)
      .withColumn("doc_id", col("doc_id") + 900000L)
    val (hit, _) = Layout.upsertInPlace(spark, dir, batch, "doc_id",
      Seq("doc_id"))
    assert(hit == 0, s"no existing file may be affected, hit $hit")
    assert(Manifest.readTable(spark, dir).count() == docs.count() + 7)
  }

  test("commits are first-writer-wins; crashed claims stay retryable") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-occ").toString
    docs.limit(50).coalesce(1).write.mode("overwrite").parquet(dir)
    val entries = Manifest.create(spark, dir, Seq("doc_id"))

    // two committers race to v2: the winner lands, the loser must get
    // a conflict instead of silently clobbering the pointer
    Manifest.write(spark, dir, entries, 2)
    intercept[java.util.ConcurrentModificationException] {
      Manifest.write(spark, dir, entries, 2)
    }
    assert(Manifest.currentVersion(spark, dir).contains(2))

    // a claim whose snapshot never landed is protected by its LEASE
    // while fresh (a live slow writer must not be usurped)...
    Manifest.claimVersion(spark, dir, 3)
    intercept[java.util.ConcurrentModificationException] {
      Manifest.write(spark, dir, entries, 3)
    }
    // ...but once the lease expires (committer died) the claim is
    // stale and the next attempt takes it over rather than wedging
    Manifest.write(spark, dir, entries, 3, leaseMs = 0L)
    assert(Manifest.currentVersion(spark, dir).contains(3))
    // but once v3 is committed, another v3 attempt is a real conflict
    intercept[java.util.ConcurrentModificationException] {
      Manifest.write(spark, dir, entries, 3, leaseMs = 0L)
    }
  }

  test("two concurrent committers: one wins, the loser retries to success, nothing lost") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-race").toString
    docs.limit(50).coalesce(1).write.mode("overwrite").parquet(dir)
    val entries = Manifest.create(spark, dir, Seq("doc_id"))

    // both writers read v1 and race to commit v2 with DISTINCT
    // payloads, retrying from a fresh read on every conflict — the
    // optimistic-concurrency loop every manifest format prescribes
    def committer(tag: String): (String, Int) = {
      val payload = entries.map(e => e.copy(name = s"$tag/${e.name}"))
      var attempt = Manifest.currentVersion(spark, dir).get + 1
      var conflicts = 0
      while (true) {
        try {
          Manifest.write(spark, dir, payload, attempt)
          return (tag, attempt)
        } catch {
          case _: java.util.ConcurrentModificationException =>
            conflicts += 1
            assert(conflicts < 300, s"$tag wedged after $conflicts conflicts")
            Thread.sleep(100)
            attempt = math.max(attempt,
              Manifest.currentVersion(spark, dir).get + 1)
        }
      }
      throw new IllegalStateException("unreachable")
    }
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    val results =
      try Await.result(
        Future.sequence(Seq(Future(committer("wa")), Future(committer("wb")))),
        Duration(5, "min"))
      finally pool.shutdown()

    // exactly one claimed v2 and one claimed v3 — no version was
    // double-committed, no payload was lost or mixed
    assert(results.map(_._2).sorted == Seq(2, 3),
      s"expected versions 2 and 3, got $results")
    assert(Manifest.currentVersion(spark, dir).contains(3))
    val byTag = results.toMap.map(_.swap)
    Seq(2, 3).foreach { v =>
      val names = Manifest.readVersion(spark, dir, v).get.map(_.name)
      val tag = byTag(v)
      assert(names.nonEmpty && names.forall(_.startsWith(s"$tag/")),
        s"v$v must be exactly $tag's payload, saw $names")
    }
  }

  test("a usurped slow writer cannot double-commit: the rename is the arbiter") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-arb").toString
    docs.limit(50).coalesce(1).write.mode("overwrite").parquet(dir)
    val entries = Manifest.create(spark, dir, Seq("doc_id"))

    // slow writer W1 claims v2 and stalls mid-job; W2's retry takes
    // the expired lease over and commits v2
    val w1 = Manifest.claimVersion(spark, dir, 2)
    Manifest.write(spark, dir, entries, 2, leaseMs = 0L)
    assert(Manifest.currentVersion(spark, dir).contains(2))
    // W1 wakes up and tries to land its own v2 snapshot with its old
    // claim: the rename arbiter rejects it — no lost update, the
    // winner's snapshot stays exactly as committed
    intercept[java.util.ConcurrentModificationException] {
      Manifest.write(spark, dir, entries.take(1), 2, claim = Some(w1))
    }
    assert(Manifest.readVersion(spark, dir, 2).get == entries)
  }

  test("vacuum retention: a pinned previous version survives the default grace") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-ret").toString
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    val pred = col("doc_id").between(100, 140)
    Layout.deleteInPlace(spark, dir, pred, statCols = Seq("doc_id"))

    // default vacuum keeps the last TWO snapshots' files: a reader
    // pinned to v1 (planned before the delete committed) still reads
    assert(Manifest.vacuum(spark, dir) == 0,
      "files referenced by the previous snapshot must survive")
    assert(Layout.contentFingerprint(
        Manifest.readTable(spark, dir, version = Some(1)))
      .collect().toSeq ==
      Layout.contentFingerprint(docs).collect().toSeq)
    // a later maintenance commit pushes v1 out of the window
    Layout.compactInPlace(spark, dir, statCols = Seq("doc_id"))
    assert(Manifest.vacuum(spark, dir) > 0)
    intercept[Exception] {
      Manifest.readTable(spark, dir, version = Some(1)).collect()
    }
    // current stays intact throughout
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq ==
      Layout.contentFingerprint(docs.filter(!pred)).collect().toSeq)
  }

  test("vacuum retires metadata debris: crashed stage dirs and unreachable DV dirs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-deb").toString
    docs.filter(col("doc_id") < 200)
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))                       // v1
    Layout.deleteMergeOnRead(spark, dir,
      col("doc_id") < 10, Seq("doc_id"))                             // v2 + dv-v2
    Layout.deleteMergeOnRead(spark, dir,
      col("doc_id") < 20, Seq("doc_id"))                             // v3 + dv-v3
    Layout.compactInPlace(spark, dir, statCols = Seq("doc_id"))      // v4, spends DVs
    Layout.deleteInPlace(spark, dir,
      col("doc_id") === 25L, Seq("doc_id"))                          // v5

    // plant a crashed commit's stage dir, aged past the lease
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(
      s"$dir/${Manifest.DirName}/.stage-v9-deadbeef")
    fs.mkdirs(stale)
    fs.setTimes(stale, System.currentTimeMillis() -
      Manifest.DefaultLeaseMs - 1000, -1)

    Manifest.vacuum(spark, dir) // default keep = v4, v5
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$dir/${Manifest.DirName}")).map(_.getPath.getName).toSet
    assert(!left.contains(".stage-v9-deadbeef"),
      "a crashed commit's stage dir past its lease must be reclaimed")
    assert(!left.contains("dv-v2") && !left.contains("dv-v3"),
      s"DV dirs of unreachable versions must be reclaimed, left $left")
    assert(!left.exists(_.startsWith("commit-v")),
      s"spent claim tokens must be reclaimed, left $left")
    // the live table is untouched
    assert(Manifest.readTable(spark, dir).count() ==
      docs.filter(col("doc_id") >= 20 && col("doc_id") < 200 &&
        col("doc_id") =!= 25L).count())
  }

  test("a committed delete-all reads as an EMPTY table, not a directory fallback") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-da").toString
    docs.limit(100).repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    Layout.deleteInPlace(spark, dir, lit(true), statCols = Seq("doc_id"))

    // the superseded files are still on disk — a directory fallback
    // would resurrect all 100 rows
    val cur = Manifest.readTable(spark, dir)
    assert(cur.count() == 0, "delete-all must read as empty")
    assert(cur.columns.toSeq == docs.columns.toSeq,
      "the empty read must carry the table's recorded schema")
    // time travel to v1 still sees the data; the pruned reader agrees
    assert(Manifest.readTable(spark, dir, version = Some(1)).count() == 100)
    assert(Manifest.readPruned(spark, dir,
      Seq(("doc_id", 0L, Long.MaxValue))).count() == 0)
    // and appending to the emptied table works via the recorded schema
    Layout.appendInPlace(spark, dir, docs.limit(7), Seq("doc_id"))
    assert(Manifest.readTable(spark, dir).count() == 7)
  }

  test("merge-on-read delete: marks cheaply, reads subtract, flush materializes") {
    // this test pins the manual mark/subtract/flush lifecycle, so the
    // auto-flush policy (which would consume the vector early at this
    // fixture's delete fractions) is disabled for its duration
    spark.conf.set("spark.graft.dv.autoFlushRatio", "0")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-dv").toString
    docs.repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)

    def diskFiles() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap

    val before = diskFiles()
    val pred1 = col("doc_id").between(100, 140)
    val (marked, total) = Layout.deleteMergeOnRead(spark, dir, pred1,
      statCols = Seq("doc_id"))
    assert(marked == docs.filter(pred1).count())
    // the delete is pure metadata: entry list verbatim, data files
    // untouched on disk
    assert(Manifest.readVersion(spark, dir, 2).get ==
      Manifest.readVersion(spark, dir, 1).get)
    assert(diskFiles() == before, "no data file may be written")
    // readers subtract the vector; v1 time-travels to the full table
    val expect1 = Layout.contentFingerprint(docs.filter(!pred1))
      .collect().toSeq
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expect1)
    assert(Layout.contentFingerprint(
      Manifest.readTable(spark, dir, version = Some(1)))
      .collect().toSeq ==
      Layout.contentFingerprint(docs).collect().toSeq)

    // vectors accumulate across deletes
    val pred2 = col("doc_id").between(300, 310)
    Layout.deleteMergeOnRead(spark, dir, pred2, Seq("doc_id"))
    val both = !pred1 && !pred2
    val expect2 = Layout.contentFingerprint(docs.filter(both))
      .collect().toSeq
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expect2)

    // raw-restating rewriting verbs must refuse while vectors are live
    // (compaction is the exception: it applies them inline)
    intercept[IllegalArgumentException] {
      Layout.deleteInPlace(spark, dir, col("doc_id") === 1L,
        statCols = Seq("doc_id"))
    }

    // flush: only marked files rewrite, vectors are spent, parity holds
    val rewritten = Layout.flushDeleteVectors(spark, dir, Seq("doc_id"))
    assert(rewritten > 0 && rewritten < total,
      s"flush must rewrite only marked files: $rewritten of $total")
    assert(!Manifest.hasDeletionVectors(spark, dir))
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expect2)
    // and the rewriting verbs are legal again
    Layout.compactInPlace(spark, dir, statCols = Seq("doc_id"))
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expect2)
    spark.conf.unset("spark.graft.dv.autoFlushRatio")
  }

  test("OPTIMIZE bin-packs: right-sized files carry verbatim, only the tail merges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-bp").toString
    // one right-sized file (90% of rows) plus a fragmented tail
    docs.filter(col("doc_id") % 10 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))
    val frag = docs.filter(col("doc_id") % 10 === 0).repartition(12)
    Layout.appendInPlace(spark, dir, frag, Seq("doc_id"))

    val bigBytes = Manifest.read(spark, dir).get.map(_.bytes).max
    // target sized so the initial file counts as right-sized and the
    // 12 appended fragments are tail
    val (before, after) = Layout.compactInPlace(spark, dir,
      targetBytes = bigBytes * 2, statCols = Seq("doc_id"))
    assert(before == 13 && after < before,
      s"expected the 12-file tail to merge: $before -> $after")
    val v3 = Manifest.read(spark, dir).get
    val v2 = Manifest.readVersion(spark, dir, 2).get
    val bigV2 = v2.maxBy(_.bytes)
    // the right-sized file's entry is carried VERBATIM — no rewrite,
    // no data read, no new name
    assert(v3.contains(bigV2),
      "the right-sized file must transfer metadata-only")
    assert(v3.count(_.name.contains("compact-v3-")) == after - 1)
    // content is intact
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq ==
      Layout.contentFingerprint(docs).collect().toSeq)
  }

  test("compaction over live deletion vectors applies the marks inline") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-cdv").toString
    docs.repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)

    val pred = col("doc_id").between(100, 140)
    Layout.deleteMergeOnRead(spark, dir, pred, Seq("doc_id"))
    assert(Manifest.hasDeletionVectors(spark, dir))

    // OPTIMIZE consumes the vectors: compact = flush + merge in ONE
    // rewrite — no separate flush pass, and the read-path join is gone
    val (before, after) = Layout.compactInPlace(spark, dir,
      statCols = Seq("doc_id"))
    assert(after < before)
    assert(!Manifest.hasDeletionVectors(spark, dir),
      "compaction must spend the vectors")
    val expected = Layout.contentFingerprint(docs.filter(!pred))
      .collect().toSeq
    assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
      .collect().toSeq == expected)
    // and the rewriting verbs are legal again without any flush
    Layout.deleteInPlace(spark, dir, col("doc_id") === 150L,
      Seq("doc_id"))
  }

  test("zorder compaction guards: 1 column rejected, 4 columns keep inside 63 bits") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-zg").toString
    li.repartition(8).write.mode("overwrite").parquet(dir)

    intercept[IllegalArgumentException] {
      Layout.compactInPlace(spark, dir, statCols = Seq("l_partkey"),
        zorderBy = Seq("l_partkey"))
    }
    // 4 dims: bits derive as 63/4 = 15 per dim and every column is
    // shift-normalized, so wide values (l_orderkey beyond 2^16)
    // neither overflow nor wrap — this used to throw at runtime
    val (_, after) = Layout.compactInPlace(spark, dir,
      statCols = Seq("l_partkey", "l_suppkey"),
      zorderBy = Seq("l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey"))
    assert(after >= 1)
    val cols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    assert(Manifest.readTable(spark, dir)
        .orderBy(cols.map(col): _*).collect().toSeq ==
      li.orderBy(cols.map(col): _*).collect().toSeq)
  }

  test("OPTIMIZE ZORDER BY: compaction with clustering out-prunes plain") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val plainDir = java.nio.file.Files.createTempDirectory("graft-oz-p").toString
    val zDir = java.nio.file.Files.createTempDirectory("graft-oz-z").toString
    // same unclustered 16-file start for both tables
    Seq(plainDir, zDir).foreach { d =>
      li.repartition(16).write.mode("overwrite").parquet(d)
    }
    val totalBytes = new java.io.File(plainDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val target = math.max(1L, totalBytes / 8)

    val (_, afterPlain) = Layout.compactInPlace(spark, plainDir, target,
      statCols = Seq("l_partkey", "l_suppkey"))
    val (_, afterZ) = Layout.compactInPlace(spark, zDir, target,
      statCols = Seq("l_partkey", "l_suppkey"),
      zorderBy = Seq("l_partkey", "l_suppkey"))
    assert(afterPlain > 1 && afterZ > 1,
      s"need multiple merged files to measure pruning: $afterPlain, $afterZ")

    def kept(d: String): Int = Manifest.prunedPaths(spark, d,
      Seq(("l_partkey", 10L, 30L), ("l_suppkey", 1L, 4L))).get.size
    info(s"rectangle keeps ${kept(zDir)} of $afterZ zordered files vs " +
      s"${kept(plainDir)} of $afterPlain plain-compacted")
    // plain compaction of an unclustered table cannot prune the 2-d
    // rectangle (every merged file spans both dims); the zordered
    // rewrite must
    // compare prune FRACTIONS: the two tables may compact to different
    // file counts (coalesce is capped by input splits)
    assert(kept(zDir).toDouble / afterZ < kept(plainDir).toDouble / afterPlain,
      s"zorder compaction must out-prune: ${kept(zDir)}/$afterZ vs " +
        s"${kept(plainDir)}/$afterPlain")
    // and both tables still hold identical data
    // (orderkey, linenumber) is not unique in the synthetic data:
    // order by the full tuple for a total order
    val cols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val a = Manifest.readTable(spark, plainDir)
      .orderBy(cols.map(col): _*).collect().toSeq
    val b = Manifest.readTable(spark, zDir)
      .orderBy(cols.map(col): _*).collect().toSeq
    assert(a == b)
  }

  test("readTable keeps partition-directory columns on a compacted tree") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val shardDir = java.nio.file.Files.createTempDirectory("graft-mf-sh").toString
    val compDir = java.nio.file.Files.createTempDirectory("graft-mf-cp").toString
    Pipeline.writeShards(docs, shardDir, maxRecordsPerFile = 50)
    Layout.compactShards(spark, shardDir, compDir, statCols = Seq("doc_id"))

    val viaManifest = Manifest.readTable(spark, compDir)
    assert(viaManifest.columns.contains("source"),
      "basePath read must recover the partition column")
    val got = Layout.contentFingerprint(viaManifest).collect().toSeq
    val expected = Layout.contentFingerprint(docs).collect().toSeq
    assert(got == expected)
    // the manifest lists every data file with its partition subpath
    val entries = Manifest.read(spark, compDir).get
    assert(entries.nonEmpty && entries.forall(_.name.contains("=")),
      s"entries must be partition-relative paths: ${entries.map(_.name)}")
  }

  test("add-column schema evolution: superset batch evolves, missing column errors") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-ev").toString
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))

    // a batch MISSING a table column is a hard error — the silent
    // column drop is the write-path bug the read oracle can't see
    intercept[IllegalArgumentException] {
      Layout.appendInPlace(spark, dir, docs.limit(3).drop("text"),
        Seq("doc_id"))
    }

    // a batch with an EXTRA column evolves the schema: new files carry
    // it, old files NULL-backfill it at read
    val batch = docs.filter(col("doc_id") % 101 === 0)
      .withColumn("doc_id", col("doc_id") + 700000L)
      .withColumn("rev_tag", lit("xx"))
    Layout.appendInPlace(spark, dir, batch, Seq("doc_id"))
    val now = Manifest.readTable(spark, dir)
    assert(now.columns.contains("rev_tag"),
      "evolved column must appear in the table read")
    assert(now.filter(col("doc_id") >= 700000L)
      .filter(col("rev_tag") =!= "xx").count() == 0)
    assert(now.filter(col("doc_id") < 700000L)
      .filter(col("rev_tag").isNotNull).count() == 0,
      "pre-evolution rows must NULL-backfill the new column")
    assert(now.count() == docs.count() + batch.count())

    // an upsert against the evolved table keeps the evolved schema;
    // its survivors (old-schema rewrites) still backfill
    val upd = docs.filter(col("doc_id").between(50, 60))
      .withColumn("text", concat(lit("u:"), col("text")))
      .withColumn("rev_tag", lit("yy"))
    Layout.upsertInPlace(spark, dir, upd, "doc_id", Seq("doc_id"))
    val after = Manifest.readTable(spark, dir)
    assert(after.filter(col("rev_tag") === "yy").count() == upd.count())
    assert(after.count() == now.count())
    // time travel BEFORE the evolution reads the original schema
    assert(!Manifest.readTable(spark, dir, version = Some(1))
      .columns.contains("rev_tag"))

    // pruned reads apply the recorded schema too: old pruned files
    // NULL-backfill the evolved column exactly like readTable
    val pruned = Manifest.readPruned(spark, dir,
      Seq(("doc_id", 0L, 10L)))
    assert(pruned.columns.contains("rev_tag") &&
      pruned.filter(col("doc_id") <= 10 &&
        col("rev_tag").isNotNull).count() == 0)

    // a batch with a NARROWER type for an existing column is cast to
    // the table's type on write — physical types never drift from the
    // recorded schema
    val narrow = docs.limit(3)
      .withColumn("doc_id", (col("doc_id") + 950000L).cast("int"))
      .withColumn("rev_tag", lit("zz"))
    Layout.appendInPlace(spark, dir, narrow, Seq("doc_id"))
    val fin = Manifest.readTable(spark, dir)
    assert(fin.schema("doc_id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(fin.filter(col("doc_id") >= 950000L).count() == 3)
  }

  test("updateInPlace rewrites only affected files with original-row semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upd").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text")
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))
    val before = Manifest.readTable(spark, dir)
    val nBefore = before.count()
    val matchedBefore = before
      .filter(col("doc_id").between(100, 160)).collect()

    // swap-style assignments prove original-row evaluation: text gets
    // a prefix computed FROM source, source gets one FROM doc_id
    val (hitFiles, totalFiles) = Layout.updateInPlace(spark, dir,
      col("doc_id").between(100, 160),
      Map("text" -> concat(col("source"), lit(":"), col("text")),
        "source" -> concat(lit("s"), (col("doc_id") % 2).cast("string"))),
      Seq("doc_id"))
    assert(hitFiles > 0 && hitFiles < totalFiles,
      s"expected a proper subset of files rewritten: $hitFiles/$totalFiles")

    val after = Manifest.readTable(spark, dir)
    assert(after.count() == nBefore)
    val changed = after.filter(col("doc_id").between(100, 160))
      .orderBy("doc_id").collect()
    val expect = matchedBefore.sortBy(_.getLong(0)).map { r =>
      (r.getLong(0), s"s${r.getLong(0) % 2}",
        s"${r.getString(1)}:${r.getString(2)}")
    }
    assert(changed.map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      expect.toSeq)
    // untouched rows are byte-identical
    assert(after.filter(!col("doc_id").between(100, 160))
      .exceptAll(before.filter(!col("doc_id").between(100, 160)))
      .isEmpty)
    // time travel still sees the pre-update state
    assert(Manifest.readTable(spark, dir, version = Some(1))
      .filter(col("doc_id").between(100, 160) &&
        col("text").startsWith("src")).count() == 0)
    // the change record balances: delete pre-images + insert post-images
    val feed = Manifest.readChangeFeed(spark, dir, 1, 2)
    assert(feed.filter(col("_change_type") === "delete").count() ==
      matchedBefore.length)
    assert(feed.filter(col("_change_type") === "insert").count() ==
      matchedBefore.length)

    // an update matching NOTHING is a metadata-only version bump
    val (h2, _) = Layout.updateInPlace(spark, dir,
      col("doc_id") === -1, Map("text" -> lit("x")), Seq("doc_id"))
    assert(h2 == 0)
    assert(Manifest.currentVersion(spark, dir).contains(3))
    assert(Manifest.readTable(spark, dir).count() == nBefore)
  }

  test("CDC: v_from + inserts - deletes == v_to across delete/upsert/append/compact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-cdc").toString
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))                       // v1
    Layout.deleteInPlace(spark, dir,
      col("doc_id").between(100, 140), Seq("doc_id"))                // v2
    val upd = docs.filter(col("doc_id") % 97 === 0)
      .withColumn("text", concat(lit("u:"), col("text")))
    Layout.upsertInPlace(spark, dir, upd, "doc_id", Seq("doc_id"))   // v3
    Layout.appendInPlace(spark, dir,
      docs.limit(11).withColumn("doc_id", col("doc_id") + 800000L),
      Seq("doc_id"))                                                 // v4
    Layout.deleteMergeOnRead(spark, dir,
      col("doc_id").between(300, 310), Seq("doc_id"))                // v5

    val cdc = Manifest.readCdc(spark, dir, 1, 5).cache()
    val ins = cdc.filter(col("_change_type") === "insert")
      .drop("_change_type")
    val del = cdc.filter(col("_change_type") === "delete")
      .drop("_change_type")
    // the feed must NOT restate rewrite survivors: deletes are exactly
    // the deleted + updated(old image) + dv-marked rows
    val delCount = del.count()
    val expDel = docs.filter(col("doc_id").between(100, 140)).count() +
      docs.filter(col("doc_id") % 97 === 0 &&
        !col("doc_id").between(100, 140)).count() +
      docs.filter(col("doc_id").between(300, 310) &&
        !col("doc_id").between(100, 140) &&
        !(col("doc_id") % 97 === 0)).count()
    assert(delCount == expDel, s"deletes $delCount, expected $expDel")
    // the invariant: v1 + inserts - deletes == v5, hash-exactly
    val v1 = Manifest.readTable(spark, dir, version = Some(1))
    val v5 = Manifest.readTable(spark, dir, version = Some(5))
    val rebuilt = v1.select(v5.columns.map(col): _*)
      .unionByName(ins.select(v5.columns.map(col): _*))
      .exceptAll(del.select(v5.columns.map(col): _*))
    assert(Layout.contentFingerprint(rebuilt).collect().toSeq ==
      Layout.contentFingerprint(v5).collect().toSeq)

    // a pure maintenance window (compaction only) emits ZERO changes
    Layout.compactInPlace(spark, dir, statCols = Seq("doc_id"))      // v6
    assert(Manifest.readCdc(spark, dir, 5, 6).count() == 0,
      "compaction must not restate survivors in the change feed")
    cdc.unpersist()
  }

  test("DROP COLUMN is a metadata-only commit; history and writes follow") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-drop").toString
    docs.repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))                       // v1

    def diskFiles() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = diskFiles()
    Layout.dropColumn(spark, dir, "lang", Seq("doc_id"))             // v2
    assert(diskFiles() == before, "a drop must touch no data file")
    assert(Manifest.readVersion(spark, dir, 2).get ==
      Manifest.readVersion(spark, dir, 1).get,
      "entries must transfer verbatim")

    val now = Manifest.readTable(spark, dir)
    assert(!now.columns.contains("lang"))
    assert(now.count() == docs.count())
    // time travel BEFORE the drop still reads the column
    assert(Manifest.readTable(spark, dir, version = Some(1))
      .columns.contains("lang"))
    // a write batch no longer needs (or keeps) the dropped column
    Layout.appendInPlace(spark, dir,
      docs.limit(3).drop("lang")
        .withColumn("doc_id", col("doc_id") + 970000L), Seq("doc_id"))
    assert(Manifest.readTable(spark, dir).count() == docs.count() + 3)
    // guards: partition columns and unknown columns refuse
    intercept[IllegalArgumentException] {
      Layout.dropColumn(spark, dir, "nope", Seq("doc_id"))
    }
    // history labels the schema-only commit
    assert(Manifest.history(spark, dir).map(_.operation) ==
      Seq("CREATE", "ALTER", "APPEND"))
  }

  test("change feed: per-commit records, newly-marked-only DV rows, silent compaction") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-feed").toString
    docs.filter(col("doc_id") < 300)
      .repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))                       // v1
    Layout.deleteMergeOnRead(spark, dir,
      col("doc_id") < 10, Seq("doc_id"))                             // v2
    Layout.deleteMergeOnRead(spark, dir,
      col("doc_id") < 20, Seq("doc_id"))                             // v3 (10..19 new)
    Layout.compactInPlace(spark, dir, statCols = Seq("doc_id"))      // v4: no change
    Layout.appendInPlace(spark, dir,
      docs.filter(col("doc_id").between(300, 320)), Seq("doc_id"))   // v5

    val feed = Manifest.readChangeFeed(spark, dir, 1, 5).cache()
    def at(v: Int, t: String): Seq[Long] =
      feed.filter(col("_commit_version") === v &&
        col("_change_type") === t)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // v2 deletes exactly 0..9; v3 deletes ONLY the newly marked
    // 10..19 (re-matched rows from v2's vector must not restate)
    assert(at(2, "delete") == (0L to 9L) &&
      at(3, "delete") == (10L to 19L),
      "DV commits must record exactly their newly marked rows")
    // compaction (which spent the vectors) contributes nothing
    assert(feed.filter(col("_commit_version") === 4).count() == 0,
      "a maintenance commit must be silent in the feed")
    // the append shows as inserts with its own version
    assert(at(5, "insert") == (300L to 320L))
    // and the feed REPLAYS the table: v1 + feed folded in version
    // order == v5 (insert adds, delete removes)
    val ins = feed.filter(col("_change_type") === "insert")
      .select(docs.columns.map(col): _*)
    val del = feed.filter(col("_change_type") === "delete")
      .select(docs.columns.map(col): _*)
    val rebuilt = Manifest.readTable(spark, dir, Some(1))
      .select(docs.columns.map(col): _*)
      .unionByName(ins).exceptAll(del)
    assert(Layout.contentFingerprint(rebuilt).collect().toSeq ==
      Layout.contentFingerprint(
        Manifest.readTable(spark, dir, Some(5))).collect().toSeq)
    feed.unpersist()
  }

  test("history labels every commit; timestamp time travel resolves versions") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-his").toString
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))                       // v1
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(20)
    Layout.appendInPlace(spark, dir,
      docs.limit(5).withColumn("doc_id", col("doc_id") + 900000L),
      Seq("doc_id"))                                                 // v2
    Layout.deleteInPlace(spark, dir,
      col("doc_id").between(100, 120), Seq("doc_id"))                // v3
    Layout.upsertInPlace(spark, dir,
      docs.filter(col("doc_id") === 5L)
        .withColumn("text", lit("u")), "doc_id", Seq("doc_id"))      // v4
    Layout.deleteMergeOnRead(spark, dir,
      col("doc_id") === 7L, Seq("doc_id"))                           // v5
    Layout.compactInPlace(spark, dir, statCols = Seq("doc_id"))      // v6

    val h = Manifest.history(spark, dir)
    assert(h.map(_.version) == (1 to 6))
    assert(h.map(_.operation) == Seq("CREATE", "APPEND", "DELETE",
      "MERGE", "DELETE (DV)", "OPTIMIZE"),
      s"operations misclassified: ${h.map(_.operation)}")
    assert(h.forall(_.nFiles > 0) && h.forall(_.rows > 0))
    // timestamps are non-decreasing and timestamp travel resolves to
    // the version live at that instant
    assert(h.sliding(2).forall(p => p(0).timestampMs <= p(1).timestampMs))
    assert(Manifest.versionAt(spark, dir, afterV1).contains(1))
    assert(Manifest.versionAt(spark, dir,
      System.currentTimeMillis()).contains(6))
    assert(Manifest.versionAt(spark, dir,
      h.head.timestampMs - 60000).isEmpty)
    // and the resolved version reads exactly as the numeric one
    val v = Manifest.versionAt(spark, dir, afterV1).get
    assert(Layout.contentFingerprint(
      Manifest.readTable(spark, dir, Some(v))).collect().toSeq ==
      Layout.contentFingerprint(docs).collect().toSeq)
  }

  test("string stat ranges prune files on lexicographic predicates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-str").toString
    docs.repartitionByRange(8, col("source"), col("doc_id"))
      .sortWithinPartitions("source", "doc_id")
      .write.mode("overwrite").parquet(dir)
    val entries = Manifest.create(spark, dir, Seq("doc_id", "source"))
    assert(entries.forall(_.sstats.exists(_.exists(_.col == "source"))),
      "string column must record string ranges")
    assert(entries.forall(_.stats.exists(_.col == "doc_id")),
      "integral column must still record BIGINT ranges")

    val (lo, hi) = ("c", "f")
    val kept = Manifest.prunedPaths(spark, dir, Nil,
      strRanges = Seq(("source", lo, hi))).get
    assert(kept.size < entries.size,
      s"a narrow source band must prune: kept ${kept.size} of ${entries.size}")
    // pruning is exact: the pruned read equals the full filter
    val got = Manifest.readPruned(spark, dir, Nil,
        Seq(("source", lo, hi)))
      .filter(col("source").between(lo, hi))
    assert(Layout.contentFingerprint(got).collect().toSeq ==
      Layout.contentFingerprint(
        docs.filter(col("source").between(lo, hi))).collect().toSeq)
  }

  test("pruned reads subtract deletion vectors like readTable does") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val zDir = java.nio.file.Files.createTempDirectory("graft-mf-pdv").toString
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", zDir, nFiles = 16)
    // mark a slice of the rectangle deleted, merge-on-read
    Layout.deleteMergeOnRead(spark, zDir,
      col("l_partkey").between(10, 15) && col("l_suppkey") === 2,
      Seq("l_partkey", "l_suppkey"))

    val viaPruned = Layout.zorderRectManifest(spark, zDir, 10, 30, 1, 4)
      .collect().toSeq
    val viaTable = Layout.zorderRect(Manifest.readTable(spark, zDir),
      10, 30, 1, 4).collect().toSeq
    assert(viaPruned == viaTable,
      "the pruned rectangle must not resurrect DV-marked rows")
    assert(viaTable.nonEmpty)
    // and readChanges over a window that adds marked files subtracts too
    val before = li.filter(col("l_partkey").between(10, 15) &&
      col("l_suppkey") === 2).count()
    assert(before > 0)
    assert(viaPruned.count(r => r.getLong(2) >= 10 && r.getLong(2) <= 15 &&
      r.getLong(3) == 2) == 0)
  }

  test("atomic replace: appendAndDeleteKeys marks + adds in ONE version, feed sees both") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-repl").toString
    spark.range(100).select(col("id").as("doc_id"),
        (col("id") % 7).as("grp"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))                      // v1
    spark.conf.set("spark.graft.dv.autoFlushRatio", "0")
    try {
      val doomed = spark.range(10).select(col("id").as("doc_id"))
      val batch = spark.range(1000, 1010).select(col("id").as("doc_id"),
        (col("id") % 7).as("grp"))
      val (marked, added) = Layout.appendAndDeleteKeys(spark, dir,
        batch, doomed, "doc_id", Seq("doc_id"))                     // v2
      assert(marked == 10 && added > 0)
      // ONE commit: v2 is current, and the logical table already
      // reflects BOTH halves
      assert(Manifest.currentVersion(spark, dir).contains(2))
      val ids = Manifest.readTable(spark, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(!(0L to 9L).exists(ids), "doomed rows survived")
      assert((1000L to 1009L).forall(ids), "batch rows missing")
      assert(ids.size == 100)
      // the change record carries the replace: deletes AND inserts
      // under the SAME commit version
      val feed = Manifest.readChangeFeed(spark, dir, 1, 2)
      def at(t: String) = feed.filter(col("_change_type") === t)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(at("delete") == (0L to 9L))
      assert(at("insert") == (1000L to 1009L))
      // a version-1 read still sees the pre-replace table
      assert(Manifest.readTable(spark, dir, Some(1)).count() == 100)
      // double-apply with already-marked keys: marks are idempotent
      val (marked2, _) = Layout.appendAndDeleteKeys(spark, dir,
        spark.range(2000, 2002).select(col("id").as("doc_id"),
          (col("id") % 7).as("grp")),
        doomed, "doc_id", Seq("doc_id"))                            // v3
      assert(marked2 == 10, "mark total is the union, re-marking is a no-op")
      val feed3 = Manifest.readChangeFeed(spark, dir, 2, 3)
      assert(feed3.filter(col("_change_type") === "delete").count() == 0,
        "re-marked rows must not restate as deletes")
    } finally spark.conf.unset("spark.graft.dv.autoFlushRatio")
  }

  test("frame-valued DV delete: 100k doomed keys mark via broadcast semi-join, no literal In") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mf-keys").toString
    spark.range(300000).select(col("id").as("doc_id"),
        (col("id") % 97).as("grp"))
      .repartition(8).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))
    // keep the vector visible (100k/300k marks would trip auto-flush)
    spark.conf.set("spark.graft.dv.autoFlushRatio", "0")
    // capture the executed plans of the marking job: the doomed set
    // must enter as a broadcast semi-join build side, never a
    // collect + isin literal (which at 100k keys is a 100k-literal
    // plan — the round-16 verdict's driver-ceiling finding)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val doomed = spark.range(100000).select(col("id").as("doc_id"))
      val (marked, _) = Layout.deleteMergeOnReadKeys(spark, dir, doomed,
        "doc_id", Seq("doc_id"))
      assert(marked == 100000L, s"marked $marked")
      val t = Manifest.readTable(spark, dir)
      assert(t.count() == 200000L)
      assert(t.agg(min("doc_id")).head.getLong(0) == 100000L)
      assert(Manifest.hasDeletionVectors(spark, dir))
      // listener delivery is async — poll for the semi-join plan
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def semiJoinSeen: Boolean = plans.asScala.exists(p =>
        p.contains("LeftSemi") && (p.contains("BroadcastHashJoin") ||
          p.contains("BroadcastExchange")))
      while (!semiJoinSeen && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(semiJoinSeen,
        "expected a broadcast left-semi marking plan; got:\n" +
          plans.asScala.map(_.take(400)).mkString("\n---\n"))
      assert(!plans.asScala.exists(_.contains("doc_id IN (0, 1, 2, 3")),
        "marking must not enumerate doomed keys as literals")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset("spark.graft.dv.autoFlushRatio")
    }
  }
}
