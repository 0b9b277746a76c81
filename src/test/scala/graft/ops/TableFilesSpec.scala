package graft.ops

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Manifest tables read a snapshot's files from their entries
  * ([[TableFiles.scan]]) and write new files with their entries
  * ([[TableFiles.write]]). The entry-planned read must return what a
  * listed `spark.read.option("basePath").schema(..).parquet(paths)`
  * read of the same files returns — rows, schema, `_metadata`,
  * `input_file_name`, `inputFiles`, `sizeInBytes` — and the writer's
  * entries must equal what [[Manifest.scanStats]] computes from the
  * files it wrote.
  */
class TableFilesSpec extends SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-tfiles-$tag").toString

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The listed read the manifest reads replaced, deletion vector
    * included: a `basePath` parquet read of the snapshot's paths under
    * its recorded physical schema, minus an inferred read of its vector.
    */
  private def listedRead(dir: String, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(Manifest.currentVersion(spark, dir).get)
    val names = Manifest.readVersion(spark, dir, v).get.map(_.name)
    val s = Manifest.tableSchema(spark, dir, v).get
    val base = spark.read.option("basePath", dir)
      .schema(Manifest.physicalSchema(s)).parquet(names.map(n => s"$dir/$n"): _*)
    val dv = Manifest.dvDir(dir, v)
    val fs = new Path(dv).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live =
      if (!fs.exists(new Path(dv))) base
      else {
        val marks = spark.read.parquet(dv)
          .select(col("file").cast("string"), col("pos"))
        base.withColumn("_f", Manifest.dvFileKey(Manifest.dvDepth(names)))
          .withColumn("_p", col("_metadata.row_index"))
          .join(marks, col("_f") === marks("file") && col("_p") === marks("pos"),
            "left_anti").drop("_f", "_p")
      }
    Manifest.toLogical(live, s)
  }

  private def assertSameRead(dir: String, version: Option[Int] = None): Unit = {
    val got = Manifest.readTable(spark, dir, version)
    val want = listedRead(dir, version)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    assert(sorted(got) == sorted(want))
  }

  /** A table partitioned by an escaped, nullable string column and an
    * int column, committed with a manifest.
    */
  private def partitionedTable(dir: String): Unit = {
    import spark.implicits._
    val srcs = Seq("a b", "x/y", "c:d", "50%", "=", null)
    (0L until 240L).map(i => (i, s"t$i", srcs((i % 6).toInt), (i % 3).toInt))
      .toDF("id", "text", "src", "bucket")
      .repartition(3).write.mode("overwrite").partitionBy("src", "bucket").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
  }

  test("entry-planned reads equal the listed read: partitioned, escaped, null") {
    val dir = tmp("part")
    partitionedTable(dir)
    assertSameRead(dir)
    val t = Manifest.readTable(spark, dir)
    assert(t.filter(col("src").isNull).count() == 40)
    assert(t.filter(col("src") === "x/y" && col("bucket") === 1).count() ==
      listedRead(dir).filter(col("src") === "x/y" && col("bucket") === 1)
        .count())
    // a partition filter prunes in listFiles: the plan carries it
    val plan = t.filter(col("bucket") === 2).queryExecution.executedPlan
      .toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
  }

  test("entry-planned reads equal the listed read: unpartitioned") {
    import spark.implicits._
    val dir = tmp("flat")
    (0L until 300L).map(i => (i, s"t$i")).toDF("id", "text")
      .repartition(4).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
    assertSameRead(dir)
  }

  test("renamed and added columns, vectors and time travel read as listed") {
    import spark.implicits._
    val dir = tmp("evolve")
    partitionedTable(dir)                                           // v1
    Layout.renameColumn(spark, dir, "text", "body")                 // v2
    Layout.appendInPlace(spark, dir,
      Seq((1000L, "n", "a b", 1, 7L)).toDF("id", "body", "src", "bucket",
        "extra"), Seq("id"))                                        // v3
    Layout.deleteMergeOnRead(spark, dir, col("id") % 11 === 0, Seq("id")) // v4
    assert(Manifest.hasDeletionVectors(spark, dir))
    for (v <- 1 to 4) assertSameRead(dir, Some(v))
    assertSameRead(dir)
    // readPruned: the pruned files, minus the vector
    val pruned = Manifest.readPruned(spark, dir, Seq(("id", 0L, 50L)))
    assert(sorted(pruned.filter(col("id") <= 50)) ==
      sorted(listedRead(dir).filter(col("id") <= 50)))
  }

  test("_metadata, input_file_name, inputFiles and sizeInBytes match") {
    val dir = tmp("meta")
    partitionedTable(dir)
    val entries = Manifest.read(spark, dir).get
    val s = Manifest.tableSchema(spark, dir, 1).get
    val mine = Manifest.readFiles(spark, dir, entries)
    val listed = spark.read.option("basePath", dir)
      .schema(Manifest.physicalSchema(s))
      .parquet(entries.map(e => s"$dir/${e.name}"): _*)
    def meta(df: DataFrame) = df.select(col("id"), input_file_name(),
      col("_metadata.file_path"), col("_metadata.file_name"),
      col("_metadata.file_size"), col("_metadata.row_index"))
    assert(sorted(meta(mine)) == sorted(meta(listed)))
    assert(mine.inputFiles.sorted.toSeq == listed.inputFiles.sorted.toSeq)
    assert(mine.queryExecution.optimizedPlan.stats.sizeInBytes ==
      listed.queryExecution.optimizedPlan.stats.sizeInBytes)
  }

  test("the writer's entries equal scanStats over the files it wrote") {
    import spark.implicits._
    val dir = tmp("stats")
    val rows = (0 until 200).map { i =>
      (i.toLong, if (i % 7 == 0) null else s"s${i * 37 % 101}",
        if (i % 5 == 0) null else Integer.valueOf(i % 13 - 6),
        java.sql.Date.valueOf(f"2020-01-${i % 28 + 1}%02d"),
        java.sql.Timestamp.valueOf(f"2021-03-04 05:06:${i % 60}%02d"),
        (i % 3).toShort, s"g${i % 2}")
    }
    val df = rows.toDF("id", "s", "n", "d", "ts", "sh", "grp")
    df.limit(1).write.mode("overwrite").partitionBy("grp").parquet(dir)
    Manifest.create(spark, dir, Nil)
    val statCols = Seq("id", "s", "n", "d", "ts", "sh", "grp")
    Layout.appendInPlace(spark, dir, df.repartition(3), statCols)
    val written = Manifest.read(spark, dir).get
      .filter(_.name.split('/').last.startsWith("append-v2"))
    assert(written.nonEmpty && written.forall(_.rows > 0))
    assert(written.map(_.rows).sum == 200)
    val scanned = Manifest.scanStats(spark, dir, statCols,
      Some(written.map(_.name)))
    assert(written == scanned)
    // no staging directory and no zero-row file is left behind
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith(".tmp")))
  }

  test("maxRecordsPerFile splits the writer's files") {
    import spark.implicits._
    val dir = tmp("maxrec")
    (0L until 10L).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "25")
    try Layout.appendInPlace(spark, dir,
      (100L until 200L).toDF("id").coalesce(1), Seq("id"))
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val added = Manifest.read(spark, dir).get
      .filter(_.name.startsWith("append-v2"))
    assert(added.map(_.rows) == Seq(25L, 25L, 25L, 25L))
    assert(Manifest.readTable(spark, dir).count() == 110)
  }

  test("vector subtraction: broadcast and shuffled branches agree") {
    val dir = tmp("dvgate")
    partitionedTable(dir)
    spark.conf.set("spark.graft.dv.autoFlushRatio", "0")
    try Layout.deleteMergeOnRead(spark, dir, col("id") % 4 === 1, Seq("id"))
    finally spark.conf.unset("spark.graft.dv.autoFlushRatio")
    val v = Manifest.currentVersion(spark, dir)
    val bc = Manifest.readTableGated(spark, dir, v, Long.MaxValue)
    val shuffled = Manifest.readTableGated(spark, dir, v, 0L)
    assert(sorted(bc) == sorted(shuffled))
    assert(bc.count() == 180)
    def hinted(df: DataFrame) = df.queryExecution.analyzed.toString
      .contains("broadcast")
    assert(hinted(bc) && !hinted(shuffled))
  }

  test("mark joins: broadcast and shuffled branches agree") {
    val dir = tmp("markgate")
    partitionedTable(dir)
    spark.conf.set("spark.graft.dv.autoFlushRatio", "0")
    try Layout.deleteMergeOnRead(spark, dir, col("id") % 4 === 1, Seq("id"))
    finally spark.conf.unset("spark.graft.dv.autoFlushRatio")
    val v = Manifest.currentVersion(spark, dir).get
    val pos = Layout.positioned(spark, dir, Manifest.readVersion(spark, dir, v).get)
    val marks = Manifest.dvMarks(spark, dir, v)
    // the caller's mark count picks the join: broadcast up to the bound
    def joined(how: String, rows: Long) = Layout.byMarks(pos, marks, how, rows)
    def hinted(df: DataFrame) = df.queryExecution.analyzed.toString
      .contains("broadcast")
    val bound = Manifest.MarkBroadcastRows
    assert(hinted(joined("left_anti", bound)) &&
      !hinted(joined("left_anti", bound + 1)))
    for ((how, n) <- Seq("left_anti" -> 180, "left_semi" -> 60)) {
      val bc = sorted(joined(how, bound))
      assert(bc == sorted(joined(how, bound + 1)))
      assert(bc.size == n)
    }
  }
}
