package graft.sources

import graft.SparkSpec
import graft.ops.{Layout, Manifest}
import graft.util.SerializableHadoopConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The scale contract of the connector's deletion-vector read path:
  * marks NEVER transit the driver. The vector store is Hive-keyed by
  * data file (`dv-v{K}/file=<base>/`), partitions carry only the
  * dv-root POINTER, and each reader task loads exactly its own file's
  * positions executor-side ([[ManifestSource.dvSkip]]). A
  * 100×-table's 1%-selective delete therefore costs the planner two
  * filesystem existence checks, not hundreds of millions of positions
  * through the driver JVM.
  */
class DvReadPathSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-dvread-$tag").toString

  private def freshTable(dir: String, parts: Int = 4): Unit = {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, s"u$i", i % 7)).toDF("id", "u", "grp")
    df.repartition(parts).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
  }

  test("the vector store is keyed by data file") {
    val dir = tmp("keyed")
    freshTable(dir)
    val (marked, _) = Layout.deleteMergeOnRead(spark, dir, col("id") % 10 === 0)
    assert(marked == 40)
    val v = Manifest.currentVersion(spark, dir).get
    val dvRoot = new Path(Manifest.dvDir(dir, v))
    val fs = dvRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subdirs = fs.listStatus(dvRoot).filter(_.isDirectory).map(_.getPath.getName)
    assert(subdirs.nonEmpty && subdirs.forall(_.startsWith("file=")),
      s"expected Hive file= keying, found: ${subdirs.mkString(",")}")
    // canonical (file, pos) order survives the partitioned layout —
    // consumers run positional multiset algebra on this frame
    assert(Manifest.dvMarks(spark, dir, v).columns.toSeq == Seq("file", "pos"))
  }

  test("partitions ship only the dv pointer; a reader loads only its own positions") {
    val dir = tmp("own")
    freshTable(dir)
    // 30/400 marked — under the 10% auto-flush threshold, so the
    // vector stays live for the reader-side loading assertions
    Layout.deleteMergeOnRead(spark, dir, col("id") < 30)
    val v = Manifest.currentVersion(spark, dir).get
    val dvRoot = ManifestSource.dvRootOf(spark, dir, v)
    assert(dvRoot.nonEmpty)
    val entries = Manifest.read(spark, dir).get
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val schemaJson = Manifest.readTable(spark, dir).schema.json
    // per-file skip sets are disjoint and sum EXACTLY to the vector:
    // no reader sees another file's marks, none are lost
    val perFile = entries.map { en =>
      val mp = ManifestSource.MfPartition(
        s"$dir/${en.name}", schemaJson, dvRoot, Map.empty, conf)
      en.name -> ManifestSource.dvSkip(mp)
    }
    val total = Manifest.dvMarks(spark, dir, v).count()
    assert(perFile.map(_._2.size).sum == total)
    val marked = Manifest.dvMarks(spark, dir, v)
      .groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perFile.foreach { case (name, skip) =>
      assert(skip.size == marked.getOrElse(name.split('/').last, 0L),
        s"$name loaded a wrong-size skip set")
    }
  }

  test("a partitioned DV whose basenames repeat across partitions stays exact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = tmp("repeat")
    // ONE write job across partition dirs: each task reuses its uuid
    // in every dir it writes, so basenames repeat — the layout on
    // which basename-keyed marks deleted same-position rows in every
    // sibling partition (the round-17 over-deletion)
    docs.coalesce(1).write.mode("overwrite").partitionBy("source")
      .parquet(dir)
    Manifest.write(spark, dir, Manifest.scanStats(spark, dir, Nil), 1)
    val names = Manifest.read(spark, dir).get.map(_.name)
    assert(names.map(_.split('/').last).distinct.size < names.size,
      "fixture must actually repeat basenames across partition dirs")
    val pred = col("doc_id") % 10 === 3
    val oracle = docs.filter(!pred)
    spark.conf.set("spark.graft.dv.autoFlushRatio", "0")
    try {
      val (marked, _) = Layout.deleteMergeOnRead(spark, dir, pred)
      assert(marked == docs.count() - oracle.count())
      val v = Manifest.currentVersion(spark, dir).get
      val dvRoot = ManifestSource.dvRootOf(spark, dir, v)
      assert(dvRoot.nonEmpty, "the vector must stay live (no flush)")
      assert(Layout.contentFingerprint(Manifest.readTable(spark, dir))
        .collect().toSeq ==
        Layout.contentFingerprint(oracle).collect().toSeq)
      // the connector reader's per-file loads subtract exactly as much
      val conf = new SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      val schemaJson = Manifest.readTable(spark, dir).schema.json
      val entries = Manifest.read(spark, dir).get
      val skipped = entries.map { en =>
        ManifestSource.dvSkip(ManifestSource.MfPartition(
          s"$dir/${en.name}", schemaJson, dvRoot, Map.empty, conf)).size
      }.sum
      assert(entries.map(_.rows).sum - skipped == oracle.count())
    } finally spark.conf.unset("spark.graft.dv.autoFlushRatio")
  }

  test("pushed-filter pruning survives a column rename (stats stay physical)") {
    import graft.ops.{ColRange, ManifestEntry}
    import org.apache.spark.sql.sources.EqualTo
    val e = ManifestEntry("f.parquet", 10, 100,
      Seq(ColRange("old_id", 0, 50)))
    val renames = Map("new_id" -> "old_id")
    // out-of-range equality on the LOGICAL name prunes via the
    // physical stats
    assert(!ManifestSource.entrySurvives(e,
      Array(EqualTo("new_id", java.lang.Long.valueOf(99L))), renames))
    assert(ManifestSource.entrySurvives(e,
      Array(EqualTo("new_id", java.lang.Long.valueOf(25L))), renames))
    // without the map the file is conservatively kept, never wrongly
    // pruned
    assert(ManifestSource.entrySurvives(e,
      Array(EqualTo("new_id", java.lang.Long.valueOf(99L)))))
  }

  test("connector batch read round-trips through the keyed store") {
    val dir = tmp("batch")
    freshTable(dir)
    def connectorRead() = spark.read
      .format("graft.sources.ManifestSource").option("path", dir).load()
    assert(connectorRead().count() == 400)
    Layout.deleteMergeOnRead(spark, dir, col("grp") === 3)
    val expect = 400 - (0L until 400L).count(_ % 7 == 3)
    assert(connectorRead().count() == expect)
    assert(Manifest.readTable(spark, dir).count() == expect)
  }
}
