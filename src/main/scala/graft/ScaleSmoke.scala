package graft

import org.apache.spark.sql.functions._

/** Scale smoke: multiply the documents corpus N-fold in-plan (no new
  * files) and run the flagship + exact-dedup paths, reporting rows
  * and wall time as one JSON line. Exercises the shapes that must
  * hold at 100 TB: map-side-combined token counting (shuffle stays
  * O(vocab) regardless of corpus size), vocab-sized windows, and
  * fixed-width-key dedup groupBy.
  *
  * Usage: runMain graft.ScaleSmoke [sfDir] [multiplier]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = GraftSession.local()

    val docs = ops.T(spark, sfDir, "documents")
    val copies = spark.range(mult).select(col("id").as("copy"))
    val big = docs.crossJoin(copies)
      .select((col("doc_id") * mult + col("copy")).as("doc_id"), col("text"))
      .repartition(64)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val (nTokens, tTok) = time(ops.Text.tokenize(big).count())
    val (nTop, tTop) = time(ops.Text.topPTokens(big, 0.9).count())
    val (nGroups, tDedup) = time(
      big.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n")).count())
    // LSH near-dup over SYNTHETIC DISTINCT docs (multiplying real docs
    // would build m-cliques of exact copies and measure quadratic
    // fixture blowup, not the algorithm): the DSv2 generator emits
    // unique md5-token texts straight from executor partitions (no
    // files, no driver data), so the only near-dups are the fixture's
    // planted variants — output and cost stay linear in corpus size.
    val nLshDocs = 1000L * mult
    val lshDocs = spark.read.format("graft.sources.SynthDocsSource")
      .option("rows", nLshDocs.toString).option("partitions", "64")
      .option("tokens", "60").load()
    val (nPairs, tLsh) = time(ops.Dedup.minhashLsh(lshDocs, 0.5).count())
    // wide simhash over the same synthetic distinct corpus: candidate
    // generation is the 4x15-bit block join, so pair volume (and cost)
    // must stay linear — only planted variants and rare block
    // collisions survive
    val (nSim64, tSim64) = time(ops.Dedup.simhashWidePairs(lshDocs).count())
    // cross-corpus dedup: incoming (variants) vs reference (originals)
    // band join — the daily-batch shape; linear in batch size
    val (nCross, tCross) = time(ops.Pipeline.crossDedup(lshDocs, 0.5).count())
    // star-contraction CC over the LSH pair graph: edge volume is
    // linear (planted variants only), so per-round cost is linear and
    // the round count O(log n) — the iterative shape must not blow up
    // in either rounds or per-round wall as the corpus grows
    val (ccOut, tCc) = time {
      val pairs = ops.Dedup.minhashLsh(lshDocs, 0.5)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val (labels, rounds) = ops.Graph.ccStar(pairs)
      (labels.count(), rounds)
    }
    val (nCcLabels, ccRounds) = ccOut
    // span dedup: sliding 16-token windows, O(tokens) rows end-to-end
    val (nSpan, tSpan) = time(ops.Dedup.spanDedup(lshDocs).count())
    // packing is one partitioned window: linear, parallel per shard
    val packDocs = big.withColumn("source",
      concat(lit("src"), pmod(col("doc_id"), lit(64)).cast("string")))
    val (nPack, tPack) = time(ops.Pipeline.seqPack(packDocs, 256).count())
    // shard write: range-partitioned partitionBy(source) parquet —
    // wall must scale with rows, not sources x tasks (tiny-file check)
    val shardDir = java.nio.file.Files
      .createTempDirectory("graft-smoke-shards").toString
    val (nShard, tShard) = time {
      ops.Pipeline.writeShards(packDocs, shardDir, 1000000)
      spark.read.parquet(shardDir).count()
    }
    // persisted IVF index: build once with ~sqrt(n) cells (the serving
    // config — cell SIZE then grows as sqrt(n), so a 100-query probe
    // batch reading nprobe cells per query costs O(sqrt(n))/query, not
    // O(n): ivf_probe_sec must grow far below 10x per data decade.
    // ivf_build_sec is the one-time cost: Lloyd training on a fixed
    // TrainPerCell x cells hash-sample (corpus-size-independent per
    // cell) + ONE map-only NearestCell assignment sweep — build wall
    // should now track ~linear per data decade, where the old
    // full-corpus-trained n x C scored stream grew n^1.5 (182 s at
    // mult=1000, round 5). Vectors are synthesized in-plan
    // (hash-derived, executor-side) so the corpus never touches the
    // driver or disk.
    val nVecs = 1000L * mult
    val emb = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        d => pmod(hash(col("id") * 64 + d), lit(1000)).cast("double")
          / 500.0 - 1.0).as("embedding"))
    // embedding near-dup with the sign-LSH planes knob AT ITS SCALE
    // SETTING (planes ~ log2 n): candidate volume n^2*(planes+1)/2^p
    // collapses to ~linear, proving the oracle-paired query's fixed
    // planes=4 is a fixture-scale choice, not the algorithm's limit.
    // Synthetic hash vectors are near-orthogonal, so surviving pairs
    // are rare and the measured cost IS the candidate generation.
    val lshPlanes = math.max(4,
      math.ceil(math.log(nVecs.toDouble) / math.log(2.0)).toInt)
    val (nNearDup, tNearDup) = time(ops.Similarity.nearDupPairsV(
      emb.select(col("vec_id"), col("embedding").as("v")),
      0.95, lshPlanes).count())
    val stride = math.max(1L, math.round(math.sqrt(nVecs.toDouble)))
    val trainSample = (ops.Similarity.TrainPerCell *
      math.max(1L, nVecs / stride)).toInt
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft-smoke-ivf").toString
    val (nCells, tIvfBuild) = time {
      ops.Similarity.ivfBuild(emb, ivfDir, stride, trainSample)
      spark.read.parquet(s"$ivfDir/centroids").count()
    }
    val probeQueries = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val (nProbe, tIvfProbe) = time(
      ops.Similarity.ivfQuery(probeQueries, ivfDir, 3, 2).count())
    // persisted IVF-PQ: same coarse cells, plus a FIXED ~256-entry
    // codebook (pqStride = n/256 — codebook size is O(1) in corpus
    // size, like any trained quantizer) and 8-byte codes in the cell
    // files. Build adds one map-only encode to the assignment sweep
    // (still ~linear); the probe's ADC stage scans only the codes
    // column of probed cells, so ivfpq_probe_sec tracks ivf_probe_sec
    // with an ~8x smaller scanned payload.
    val ivfPqDir = java.nio.file.Files
      .createTempDirectory("graft-smoke-ivfpq").toString
    val pqStride = math.max(1L, nVecs / 256)
    val (nPqBook, tPqBuild) = time {
      ops.Similarity.ivfBuildPq(emb, ivfPqDir, stride, trainSample, pqStride)
      spark.read.parquet(s"$ivfPqDir/pqcents").count()
    }
    val (nPqProbe, tPqProbe) = time(
      ops.Similarity.ivfPqQuery(probeQueries, ivfPqDir, 3, 2, 32).count())
    // streaming incremental dedup: drain the synthetic corpus as an
    // AvailableNow file stream through the transformWithState bucket-
    // ownership processor (RocksDB state); rows/s and state size are
    // the numbers a deployment sizes by — state is O(distinct band
    // keys), decisions O(docs x bands)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val streamSrcDir = java.nio.file.Files
      .createTempDirectory("graft-smoke-stream-src").toString
    lshDocs.write.mode("overwrite").parquet(streamSrcDir)
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-smoke-stream-ck").toString
    val decisions = new java.util.concurrent.atomic.LongAdder
    var stateRows = 0L
    val (_, tStream) = time {
      val src = spark.readStream
        .schema(sources.SynthDocsSource.schema).parquet(streamSrcDir)
      val query = streaming.DedupStream.incrementalDedup(spark, src)
        .writeStream.outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckDir)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[streaming.DedupStream.BandDecision],
              _: Long) => decisions.add(b.count())
        }
        .start()
      query.awaitTermination()
      stateRows = Option(query.lastProgress)
        .flatMap(p => p.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(0L)
    }
    // Z-order clustering: the one-time curve write is a range shuffle
    // (~linear, like any sort); the 2-d rectangle probe must read only
    // curve-intersecting files, so probe wall stays far below a scan.
    val nPts = 100000L * mult
    val pts = spark.range(nPts).select(col("id").as("pid"),
      pmod(hash(col("id") * 7), lit(65536)).cast("long").as("x"),
      pmod(hash(col("id") * 13), lit(65536)).cast("long").as("y"))
    val zDir = java.nio.file.Files
      .createTempDirectory("graft-smoke-zorder").toString
    val (_, tZWrite) = time {
      ops.Layout.zorderWrite(pts, "x", "y", zDir, nFiles = 64)
    }
    // 1/64 of each dimension: ~1/4096 of rows, a handful of files
    val (nZRows, tZProbe) = time(spark.read.parquet(zDir)
      .filter(col("x") < 1024 && col("y") < 1024).count())
    // copy-on-write delete of the same rectangle: only the files
    // whose footer (x, y) ranges intersect it get rewritten
    val delDir = java.nio.file.Files
      .createTempDirectory("graft-smoke-cow").toString
    val ((cowHit, cowTotal), tCow) = time(
      ops.Layout.deleteRewrite(spark, zDir, delDir,
        col("x") < 1024 && col("y") < 1024))
    // compaction over a deliberately small-file shard tree (the
    // streaming-sink debt shape): driver O(#partition dirs), per-dir
    // coalesce merges — wall scales with bytes moved
    val smallShardDir = java.nio.file.Files
      .createTempDirectory("graft-smoke-smallshards").toString
    ops.Pipeline.writeShards(packDocs, smallShardDir, 100)
    val compDir = java.nio.file.Files
      .createTempDirectory("graft-smoke-compact").toString
    val ((cFilesBefore, cFilesAfter), tCompact) = time(
      ops.Layout.compactShards(spark, smallShardDir, compDir))
    // sketches over the multiplied corpus: build cost linear in
    // tokens, shuffle fixed (grid / registers) — wall is the proof
    val (nCms, tCms) = time(ops.Sketch.cmsCells(big).count())
    val (nHll, tHll) = time(ops.Sketch.hllDistinct(packDocs).count())
    println(s"""{"multiplier":$mult,"docs":${big.count()},""" +
      s""""tokens":$nTokens,"tokenize_sec":$tTok,""" +
      s""""top90_rows":$nTop,"top90_sec":$tTop,""" +
      s""""dedup_groups":$nGroups,"dedup_sec":$tDedup,""" +
      s""""lsh_docs":$nLshDocs,"lsh_pairs":$nPairs,"lsh_sec":$tLsh,""" +
      s""""simhash64_pairs":$nSim64,"simhash64_sec":$tSim64,""" +
      s""""cross_flagged":$nCross,"cross_sec":$tCross,""" +
      s""""ccstar_labels":$nCcLabels,"ccstar_rounds":$ccRounds,""" +
      s""""ccstar_sec":$tCc,""" +
      s""""span_docs":$nSpan,"span_sec":$tSpan,""" +
      s""""pack_rows":$nPack,"pack_sec":$tPack,""" +
      s""""shard_rows":$nShard,"shard_sec":$tShard,""" +
      s""""neardup_planes":$lshPlanes,"neardup_pairs":$nNearDup,""" +
      s""""neardup_sec":$tNearDup,""" +
      s""""ivf_vecs":$nVecs,"ivf_cells":$nCells,""" +
      s""""ivf_build_sec":$tIvfBuild,""" +
      s""""ivf_probe_rows":$nProbe,"ivf_probe_sec":$tIvfProbe,""" +
      s""""ivfpq_book_rows":$nPqBook,"ivfpq_build_sec":$tPqBuild,""" +
      s""""ivfpq_probe_rows":$nPqProbe,"ivfpq_probe_sec":$tPqProbe,""" +
      s""""stream_dedup_decisions":${decisions.sum},""" +
      s""""stream_state_rows":$stateRows,"stream_dedup_sec":$tStream,""" +
      s""""zorder_pts":$nPts,"zorder_write_sec":$tZWrite,""" +
      s""""zorder_probe_rows":$nZRows,"zorder_probe_sec":$tZProbe,""" +
      s""""cow_hit_files":$cowHit,"cow_total_files":$cowTotal,""" +
      s""""cow_sec":$tCow,""" +
      s""""compact_files_before":$cFilesBefore,""" +
      s""""compact_files_after":$cFilesAfter,"compact_sec":$tCompact,""" +
      s""""cms_cells":$nCms,"cms_sec":$tCms,""" +
      s""""hll_rows":$nHll,"hll_sec":$tHll}""")
    spark.stop()
  }
}
