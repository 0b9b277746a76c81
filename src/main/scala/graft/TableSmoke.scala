package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table-format smoke: build a manifest-managed table at N x the
  * documents corpus and measure the three delete paths head to head —
  * the write-amplification story that motivates the verb set:
  *
  *  - export copy-on-write ([[ops.Layout.deleteRewrite]]): rewrites
  *    survivors AND copies every untouched byte to the new directory
  *    — write cost O(table).
  *  - in-place copy-on-write ([[ops.Layout.deleteInPlace]]): rewrites
  *    survivors of the affected files only; untouched files are
  *    metadata-carried — write cost O(affected files).
  *  - merge-on-read ([[ops.Layout.deleteMergeOnRead]]): marks (file,
  *    position) pairs — write cost O(matching rows), kilobytes.
  *
  * At 100 TB these are the difference between a multi-hour rewrite, a
  * minutes-long affected-file pass, and a seconds-long metadata
  * commit. Reports one JSON line of rows, seconds, and bytes written.
  *
  * Usage: runMain graft.TableSmoke [sfDir] [multiplier] [chunkCommits]
  * (chunkCommits x 1000 = file count of the chunked-metadata gate;
  * default 100 -> the 100k-file bar, 1000 -> a 1M-file run).
  */
object TableSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val chunkCommits = args.lift(2).map(_.toInt).getOrElse(100)
    val spark = GraftSession.local()

    val docs = ops.T(spark, sfDir, "documents")
    val copies = spark.range(mult).select(col("id").as("copy"))
    val big = docs.crossJoin(copies)
      .select((col("doc_id") * mult + col("copy")).as("doc_id"),
        col("source"), col("text"))

    def freshTable(tag: String): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-tsmoke-$tag").toString
      big.repartitionByRange(64, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(dir)
      dir
    }

    def dirBytes(d: String): Long = {
      val f = new java.io.File(d)
      if (!f.exists()) 0L
      else if (f.isFile) f.length
      else f.listFiles().map(x => dirBytes(x.getPath)).sum
    }

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val nRows = big.count()
    // a targeted band: ~0.1% of ids, hitting a couple of files
    val lo = 100L * mult
    val hi = lo + math.max(50L, nRows / 1000)
    val pred = col("doc_id").between(lo, hi)

    // export copy-on-write: survivors + every untouched byte copied
    val srcA = freshTable("rewrite")
    val outA = java.nio.file.Files
      .createTempDirectory("graft-tsmoke-out").toString
    val ((hitA, totA), tRewrite) =
      time(ops.Layout.deleteRewrite(spark, srcA, outA, pred,
        statCols = Seq("doc_id")))
    val bytesRewrite = dirBytes(outA)

    // in-place copy-on-write: survivors of affected files only
    val srcB = freshTable("inplace")
    val baseB = dirBytes(srcB)
    val ((hitB, _), tInPlace) =
      time(ops.Layout.deleteInPlace(spark, srcB, pred,
        statCols = Seq("doc_id")))
    val bytesInPlace = dirBytes(srcB) - baseB

    // merge-on-read: a deletion vector, kilobytes
    val srcC = freshTable("dv")
    val baseC = dirBytes(srcC)
    val ((marked, _), tDv) =
      time(ops.Layout.deleteMergeOnRead(spark, srcC, pred,
        statCols = Seq("doc_id")))
    val bytesDv = dirBytes(srcC) - baseC
    // and the read path still answers exactly
    val remain = ops.Manifest.readTable(spark, srcC).count()
    assert(remain == nRows - marked, s"$remain != $nRows - $marked")

    // streaming-source throughput over the DV table: every committed
    // row through ManifestSource (record-at-a-time Group decode, the
    // documented trade for O(delta) streaming batches) with the
    // deletion marks skipped — rows/sec is the number that says
    // whether a commit-window consumer keeps up
    val (streamed, tStream) = time {
      var n = 0L
      val q = spark.readStream.format("graft.sources.ManifestSource")
        .option("path", srcC).load()
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          n += df.count(); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft-tsmoke-ck").toString)
        .start()
      q.awaitTermination()
      n
    }
    assert(streamed == nRows - marked,
      s"stream delivered $streamed, expected ${nRows - marked}")

    // metadata scaling: a 10k-file manifest — commit latency (stage +
    // rename + pointer flip) and rectangle-planning latency (ONE
    // snapshot read + in-memory range filter). This is the cost that
    // must stay flat as the table grows to 100 TB: planning never
    // opens a data file, so it scales with #entries, not bytes.
    val mDir = java.nio.file.Files
      .createTempDirectory("graft-tsmoke-meta").toString
    val entries10k = (0 until 10000).map { i =>
      ops.ManifestEntry(f"part-$i%05d.parquet", 1000L, 1L << 20,
        Seq(ops.ColRange("doc_id", i * 1000L, i * 1000L + 999)))
    }
    val (_, tCommit) = time(ops.Manifest.write(spark, mDir, entries10k, 1))
    val (keptMeta, tPlan) = time(ops.Manifest.prunedPaths(spark, mDir,
      Seq(("doc_id", 5000000L, 5050000L))).get.size)

    // CHUNKED metadata at 100k files: 100 delta commits of 1k entries
    // each. The claim that must hold at 100 TB: commit latency stays
    // FLAT as the table grows (each commit writes O(delta) + a
    // bounded chunk list, never the accumulated file list), planning
    // over the final 100k-entry manifest is a distributed filter that
    // collects only survivors, and the driver never materializes the
    // full list on the append path.
    val cDir = java.nio.file.Files
      .createTempDirectory("graft-tsmoke-chunk").toString
    def entries1k(k: Int): Seq[ops.ManifestEntry] =
      (0 until 1000).map { i =>
        val fid = k * 1000 + i
        ops.ManifestEntry(f"part-$fid%06d.parquet", 1000L, 1L << 20,
          Seq(ops.ColRange("doc_id", fid * 1000L, fid * 1000L + 999)))
      }
    val commitSecs = (1 to chunkCommits).map { k =>
      val carried =
        if (k == 1) Seq.empty[ops.Manifest.ChunkRef]
        else ops.Manifest.chunkRefs(spark, cDir, k - 1).get
      val (_, s) = time(ops.Manifest.writeChunked(spark, cDir, k,
        carried, Seq(entries1k(k - 1))))
      s
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val mFirst = median(commitSecs.take(10))
    val mLast = median(commitSecs.takeRight(10))
    assert(mLast < 3 * mFirst,
      s"commit latency grew with table size: first10=$mFirst last10=$mLast")
    val nChunks = ops.Manifest.chunkRefs(spark, cDir, chunkCommits).get.size
    assert(nChunks <= ops.Manifest.MaxChunks,
      s"chunk list unbounded: $nChunks")
    val (kept100k, tPlan100k) = time(ops.Manifest.prunedPaths(spark, cDir,
      Seq(("doc_id", 50000000L, 50100000L))).get.size)
    assert(kept100k == 101, s"chunked pruning kept $kept100k of 100k")

    // SUSTAINED-DELETE workload under the auto-flush policy: 12
    // sequential ~2.5% band deletes against one table. Without the
    // policy the vector grows without bound (every read pays an
    // ever-larger skip set); with it, marks stay under
    // ratio*rows + one band — the shape that keeps merge-on-read
    // viable on a table deleted from daily for a year.
    val sDir = java.nio.file.Files
      .createTempDirectory("graft-tsmoke-sustain").toString
    import spark.implicits._
    spark.range(0, 200000L).select(col("id"),
        concat(lit("d"), col("id")).as("txt"))
      .repartition(8).write.mode("overwrite").parquet(sDir)
    ops.Manifest.create(spark, sDir, Seq("id"))
    var maxMarks = 0L
    var flushes = 0
    val t0s = System.nanoTime()
    (0 until 12).foreach { k =>
      val lo = k * 5000L
      ops.Layout.deleteMergeOnRead(spark, sDir,
        col("id") >= lo && col("id") < lo + 5000L, Seq("id"))
      val v = ops.Manifest.currentVersion(spark, sDir).get
      val marks = ops.Manifest.dvMarks(spark, sDir, v).count()
      maxMarks = math.max(maxMarks, marks)
      if (marks == 0) flushes += 1
      val live = ops.Manifest.read(spark, sDir).get.map(_.rows).sum
      assert(live == 0 || marks <= 0.10 * live + 5000L,
        s"round $k: $marks marks on $live rows — vector unbounded")
    }
    val tSustain = (System.nanoTime() - t0s) / 1e9
    assert(ops.Manifest.readTable(spark, sDir).count() == 140000L)

    println(s"""{"metric":"table_smoke","rows":$nRows,"mult":$mult,""" +
      s""""table_bytes":${dirBytes(srcA)},""" +
      s""""delete_band_rows":$marked,"files_hit":$hitA,"files":$totA,""" +
      s""""rewrite_sec":$tRewrite,"rewrite_bytes":$bytesRewrite,""" +
      s""""inplace_sec":$tInPlace,"inplace_bytes":$bytesInPlace,""" +
      s""""dv_sec":$tDv,"dv_bytes":$bytesDv,""" +
      s""""stream_rows":$streamed,"stream_sec":$tStream,""" +
      s""""stream_rows_per_sec":${(streamed / tStream).toLong},""" +
      s""""manifest_files":10000,"manifest_commit_sec":$tCommit,""" +
      s""""manifest_plan_sec":$tPlan,"manifest_kept":$keptMeta,""" +
      s""""chunked_files":${chunkCommits * 1000},""" +
      s""""chunked_commits":$chunkCommits,""" +
      s""""chunked_commit_med_first10":$mFirst,""" +
      s""""chunked_commit_med_last10":$mLast,""" +
      s""""chunked_chunks":$nChunks,""" +
      s""""chunked_plan_sec":$tPlan100k,"chunked_kept":$kept100k,""" +
      s""""sustain_deletes":12,"sustain_max_marks":$maxMarks,""" +
      s""""sustain_flushes":$flushes,"sustain_sec":$tSustain}""")
    spark.stop()
  }
}
