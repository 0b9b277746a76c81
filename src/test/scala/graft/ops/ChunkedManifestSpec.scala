package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Chunked snapshots (manifest-list indirection): append commits write
  * O(delta) metadata and carry prior chunks by reference, a snapshot
  * without a chunk list fails loudly, the merge policy bounds the
  * list, pruning stays distributed, and vacuum distinguishes live
  * chunks from crash orphans.
  */
class ChunkedManifestSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-chunk-$tag").toString

  private def fs(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("append migrates an inline base to chunked; contents and time travel intact") {
    import spark.implicits._
    val dir = tmp("mig")
    (0L until 100L).map(i => (i, s"t$i")).toDF("id", "txt")
      .repartition(2).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))               // v1
    val refs1 = Manifest.chunkRefs(spark, dir, 1).get
    assert(refs1.size == 1, s"a full-list commit lands one chunk: $refs1")

    Layout.appendInPlace(spark, dir,
      (100L until 150L).map(i => (i, s"t$i")).toDF("id", "txt"),
      Seq("id"))                                         // v2
    val refs2 = Manifest.chunkRefs(spark, dir, 2)
    assert(refs2.nonEmpty, "append commits a chunked snapshot")
    assert(refs2.get.size == 2 && refs2.get.head == refs1.head,
      s"v1's chunk carried verbatim + one delta chunk: $refs2")
    assert(Manifest.readTable(spark, dir).count() == 150)
    // the carried chunk was never rewritten on the next append
    Layout.appendInPlace(spark, dir,
      (150L until 160L).map(i => (i, s"t$i")).toDF("id", "txt"),
      Seq("id"))                                         // v3
    val refs3 = Manifest.chunkRefs(spark, dir, 3).get
    assert(refs3.take(2) == refs2.get,
      "prior chunks must carry by reference, not rewrite")
    assert(Manifest.readTable(spark, dir).count() == 160)
    // time travel: v1 and v2 both read exactly
    assert(Manifest.readTable(spark, dir, Some(1)).count() == 100)
    assert(Manifest.readTable(spark, dir, Some(2)).count() == 150)
    // the full entry list round-trips with stats intact
    val es = Manifest.read(spark, dir).get
    assert(es.map(_.rows).sum == 160)
    assert(es.forall(_.stats.exists(_.col == "id")))
  }

  test("a snapshot with no chunk list fails loudly, never reads as empty") {
    import spark.implicits._
    val dir = tmp("nochunks")
    (0L until 10L).map(i => (i, s"n$i")).toDF("id", "txt")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // hand-written full-list snapshot: the entries inline in v1's own
    // directory, no `_chunks.json`, and CURRENT pointing at it
    val f = fs(dir)
    val snap = new Path(s"$dir/${Manifest.DirName}/v1")
    f.mkdirs(snap)
    val out = f.create(new Path(snap, "entries.json"), true)
    try out.write(Manifest.scanStats(spark, dir, Seq("id"))
      .map(Manifest.entryJsonLine).mkString("", "\n", "\n")
      .getBytes("UTF-8")) finally out.close()
    f.create(new Path(snap, "_SUCCESS"), true).close()
    val ptr = f.create(new Path(s"$dir/${Manifest.DirName}/CURRENT"), true)
    try ptr.write("v1\n".getBytes("UTF-8")) finally ptr.close()

    def failsNamingSnapshot(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(s"${Manifest.DirName}/v1")),
        s"the failure must name the snapshot dir: ${msgs.mkString(" | ")}")
    }
    failsNamingSnapshot(Manifest.read(spark, dir))
    failsNamingSnapshot(Manifest.readTable(spark, dir).count())
    failsNamingSnapshot(spark.read.format("graft.sources.ManifestSource")
      .option("path", dir).load().count())
  }

  test("chunk count stays bounded under many commits (merge policy)") {
    import spark.implicits._
    val dir = tmp("merge")
    (0L until 10L).map(i => (i, s"s$i")).toDF("id", "txt")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
    (0 until 70).foreach { k =>
      val lo = 10L + k * 10L
      Layout.appendInPlace(spark, dir,
        (lo until lo + 10L).map(i => (i, s"s$i")).toDF("id", "txt"),
        Seq("id"))
    }
    val v = Manifest.currentVersion(spark, dir).get
    val refs = Manifest.chunkRefs(spark, dir, v).get
    assert(refs.size <= Manifest.MaxChunks,
      s"chunk list must stay bounded, got ${refs.size}")
    val es = Manifest.read(spark, dir).get
    assert(es.map(_.rows).sum == 710, "no entry lost across merges")
    assert(es.map(_.name).distinct.size == es.size, "no entry duplicated")
    assert(Manifest.readTable(spark, dir).count() == 710)
  }

  test("pruning over a chunked snapshot skips exactly the provably-disjoint files") {
    import spark.implicits._
    val dir = tmp("prune")
    (0L until 1000L).map(i => (i, s"p$i")).toDF("id", "txt")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
    (1 to 3).foreach { k =>
      val lo = 1000L * k
      Layout.appendInPlace(spark, dir,
        (lo until lo + 1000L).map(i => (i, s"p$i"))
          .toDF("id", "txt")
          .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
        Seq("id"))
    }
    val all = Manifest.read(spark, dir).get
    assert(all.size == 16)
    val kept = Manifest.prunedPaths(spark, dir,
      Seq(("id", 2100L, 2200L))).get
    // only files whose recorded [min,max] intersects the band survive
    val expect = all.filter(_.stats.exists(s =>
      s.col == "id" && s.max >= 2100L && s.min <= 2200L))
      .map(e => s"$dir/${e.name}").sorted
    assert(kept == expect, s"kept=$kept expect=$expect")
    assert(kept.size < all.size, "the rectangle must actually prune")
    // and the pruned read still answers exactly
    assert(spark.read.parquet(kept: _*)
      .filter(col("id").between(2100, 2200)).count() == 101)
  }

  test("a rewriting verb after chunked appends keeps correctness; vacuum GCs only orphans") {
    import spark.implicits._
    val dir = tmp("verbs")
    (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt")
      .repartition(2).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
    Layout.appendInPlace(spark, dir,
      (200L until 300L).map(i => (i, s"v$i")).toDF("id", "txt"),
      Seq("id"))                                        // v2 chunked
    Layout.deleteInPlace(spark, dir, col("id") < 50L, Seq("id")) // v3
    assert(Manifest.readTable(spark, dir).count() == 250)
    // chunked history remains time-travelable around the rewrite
    assert(Manifest.readTable(spark, dir, Some(2)).count() == 300)

    // orphan chunk (crashed commit debris, mtime pushed past the
    // lease) is GC'd; live chunks survive
    val f = fs(dir)
    val orphan = new Path(
      s"$dir/${Manifest.DirName}/${Manifest.ChunksDir}/c-v9-dead-0.json")
    f.mkdirs(orphan.getParent)
    val o = f.create(orphan, true); o.write("{}".getBytes); o.close()
    f.setTimes(orphan, System.currentTimeMillis() -
      Manifest.DefaultLeaseMs - 60000L, -1)
    val live = Manifest.chunkRefs(spark, dir, 2).get.map(_.path).toSet
    Manifest.vacuum(spark, dir, keepVersions = 10)
    assert(!f.exists(orphan), "lease-aged orphan chunk must be GC'd")
    live.foreach(p => assert(
      f.exists(new Path(s"$dir/${Manifest.DirName}/$p")),
      s"live chunk $p must survive vacuum"))
    assert(Manifest.readTable(spark, dir).count() == 250)
  }

  test("vacuum retiring a version keeps chunks CARRIED by survivors") {
    // carried-by-reference chunks are shared across versions: v3
    // carries v2's chunk files verbatim, so retiring v2 must NOT
    // delete them — a naive per-version GC would corrupt CURRENT
    import spark.implicits._
    val dir = tmp("carry-gc")
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "txt")
      .repartition(2).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
    Layout.appendInPlace(spark, dir,
      (100L until 150L).map(i => (i, s"v$i")).toDF("id", "txt"),
      Seq("id"))                                        // v2 chunked
    Layout.appendInPlace(spark, dir,
      (150L until 160L).map(i => (i, s"v$i")).toDF("id", "txt"),
      Seq("id"))                                        // v3 carries v2's chunks
    val curRefs = Manifest.chunkRefs(spark, dir, 3).get.map(_.path)
    assert(curRefs.nonEmpty)
    Manifest.vacuum(spark, dir, keepVersions = 1)
    val f = fs(dir)
    curRefs.foreach(p => assert(
      f.exists(new Path(s"$dir/${Manifest.DirName}/$p")),
      s"carried chunk $p deleted by vacuum of retired versions"))
    assert(Manifest.readTable(spark, dir).count() == 160)
  }

  test("streaming toTable ingest commits O(epoch) chunked metadata") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("stream")
    (0L until 10L).map(i => (i, s"s$i")).toDF("id", "tag")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = graft.streaming.ManifestSink.start(
      mem.toDF().select(col("value").as("id"),
        concat(lit("s"), col("value")).as("tag")),
      dir, java.nio.file.Files.createTempDirectory("graft-chunk-ck")
        .toString, Seq("id"))
    try {
      mem.addData(10L to 19L: _*); q.processAllAvailable()
      mem.addData(20L to 29L: _*); q.processAllAvailable()
    } finally q.stop()
    val v = Manifest.currentVersion(spark, dir).get
    assert(Manifest.chunkRefs(spark, dir, v).nonEmpty,
      "streaming appends must land chunked")
    assert(Manifest.readTable(spark, dir).count() == 30)
  }
}
