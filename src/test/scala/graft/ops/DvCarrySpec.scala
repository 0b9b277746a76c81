package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every verb that carries a live deletion vector into its new version
  * keeps the vector's `_COUNT` sidecar equal to the marks the vector
  * holds, keeps no mark of a file that left the snapshot, and reads
  * back exactly the expected rows: appends (programmatic and staged),
  * the two marking verbs, a SQL `UPDATE` over live marks on an
  * unpartitioned and a partitioned table, and CLONE. Marks on
  * partition directories whose names escape or percent-encode name
  * their manifest entries, so every reader and the flush agree.
  */
class DvCarrySpec extends SparkSpec {

  /** The auto-flush policy would spend the vectors under test. */
  private def withNoAutoFlush(f: => Unit): Unit = {
    spark.conf.set("spark.graft.dv.autoFlushRatio", "0")
    try f finally spark.conf.unset("spark.graft.dv.autoFlushRatio")
  }

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"), concat(lit("v"), col("id")).as("v"))

  private def table(tag: String, n: Long, files: Int): String = {
    val dir = Files.createTempDirectory(s"graft-dvcarry-$tag").toString
    rows(0, n).repartition(files).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
    dir
  }

  private def ids(dir: String): Set[Long] =
    Manifest.readTable(spark, dir).select("id").collect()
      .map(_.getLong(0)).toSet

  /** Checks the current vector of `dir` and returns its mark count. */
  private def vector(dir: String): Long = {
    val v = Manifest.currentVersion(spark, dir).get
    val marks = Manifest.dvMarks(spark, dir, v)
    val n = marks.count()
    assert(Manifest.dvCountOf(spark, dir, v).getOrElse(0L) == n,
      s"v$v: the _COUNT sidecar disagrees with the vector's $n marks")
    val live = Manifest.read(spark, dir).get.map(_.name).toSet
    val stale = marks.select("file").distinct().collect()
      .map(_.getString(0)).filterNot(live.contains)
    assert(stale.isEmpty, s"v$v marks files outside its snapshot: " +
      stale.mkString(", "))
    n
  }

  test("appendInPlace and commitStagedAppend carry live marks and their count") {
    withNoAutoFlush {
      val dir = table("append", 100, 4)
      Layout.deleteMergeOnRead(spark, dir, col("id") < 10, Seq("id"))
      assert(vector(dir) == 10)
      assert(Layout.appendInPlace(spark, dir, rows(100, 120), Seq("id")) > 0)
      assert(vector(dir) == 10)
      assert(ids(dir) == (10L until 120L).toSet)

      // the streaming write's driver commit: a staged dot-file lands
      val tmp = Files.createTempDirectory("graft-dvcarry-stage").toString
      rows(120, 130).coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val staged = s"$dir/.staged-dvcarry.parquet"
      assert(fs.rename(part, new org.apache.hadoop.fs.Path(staged)))
      assert(Layout.commitStagedAppend(spark, dir, Seq(staged), None,
        Seq("id")) == 1)
      assert(vector(dir) == 10)
      assert(ids(dir) == (10L until 130L).toSet)
    }
  }

  test("appendAndDeleteKeys and deleteMergeOnRead add only new marks to the count") {
    withNoAutoFlush {
      val dir = table("mark", 100, 4)
      Layout.deleteMergeOnRead(spark, dir, col("id") < 5, Seq("id"))
      assert(vector(dir) == 5)
      // ids 0..4 are marked already: re-marking them must not count
      val (marked, _) = Layout.appendAndDeleteKeys(spark, dir,
        rows(100, 110), spark.range(0, 15).select(col("id")), "id",
        Seq("id"))
      assert(marked == 15)
      assert(vector(dir) == 15)
      Layout.deleteMergeOnRead(spark, dir,
        col("id") >= 100 && col("id") < 103, Seq("id"))
      assert(vector(dir) == 18)
      assert(ids(dir) == ((15L until 100L) ++ (103L until 110L)).toSet)
    }
  }

  test("schema-evolution commits carry live marks") {
    withNoAutoFlush {
      val dir = table("evolve", 100, 4)
      Layout.deleteMergeOnRead(spark, dir, col("id") < 10, Seq("id"))
      Layout.addColumn(spark, dir,
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.LongType))
      assert(vector(dir) == 10)
      Layout.renameColumn(spark, dir, "v", "label")
      assert(vector(dir) == 10)
      assert(ids(dir) == (10L until 100L).toSet)
    }
  }

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-dvcarry-wh").toString
    spark.conf.set("spark.sql.catalog.gdvc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvc.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvc.db")
    d
  }

  private def sqlIds(table: String): Set[Long] =
    spark.sql(s"SELECT id FROM $table").collect().map(_.getLong(0)).toSet

  /** Partition values whose directory names Hive-escape (`:`, `%`) or
    * whose file URIs percent-encode (` `) or keep a literal `+`.
    */
  private val srcValues = Seq("plain", "c:d", "a b", "50%", "a+b")
  private val srcSql = srcValues.map(v => s"'$v'").mkString(", ")

  test("SQL UPDATE over live marks keeps exactly the untouched files' marks") {
    withNoAutoFlush {
      wh
      spark.sql("CREATE TABLE gdvc.db.u (id BIGINT, v STRING)")
      spark.sql("INSERT INTO gdvc.db.u SELECT id, concat('a', id) " +
        "FROM range(0, 100)")
      spark.sql("INSERT INTO gdvc.db.u SELECT id, concat('b', id) " +
        "FROM range(100, 200)")
      spark.sql("DELETE FROM gdvc.db.u WHERE id % 10 = 0")
      val dir = s"$wh/db/u"
      assert(vector(dir) == 20)
      // rewrites only second-batch files: their marks are spent, the
      // first batch's carry over
      spark.sql("UPDATE gdvc.db.u SET v = 'upd' WHERE id >= 150")
      val n = vector(dir)
      assert(n >= 10 && n < 20, s"$n marks after the UPDATE")
      val want = (0L until 200L).filterNot(_ % 10 == 0).toSet
      assert(sqlIds("gdvc.db.u") == want)
      assert(spark.sql("SELECT count(*) FROM gdvc.db.u WHERE v = 'upd'")
        .head().getLong(0) == want.count(_ >= 150))
      spark.sql("DROP TABLE gdvc.db.u")
    }
  }

  test("SQL UPDATE over live marks on a partitioned table drops the rewritten partition's marks") {
    withNoAutoFlush {
      wh
      spark.sql("""CREATE TABLE gdvc.db.p (id BIGINT, src STRING, v STRING)
                  |PARTITIONED BY (src)""".stripMargin)
      spark.sql(s"""INSERT INTO gdvc.db.p
                  |SELECT id, element_at(array($srcSql), CAST(id % 5 AS INT) + 1),
                  |  concat('a', id)
                  |FROM range(0, 300)""".stripMargin)
      spark.sql("DELETE FROM gdvc.db.p WHERE id % 7 = 0")
      val dir = s"$wh/db/p"
      assert(vector(dir) == 43)
      // every file of src=c:d rewrites; its 8 marks go with them (the
      // vector's `file=` directories hold escaped partition paths)
      spark.sql("UPDATE gdvc.db.p SET v = 'upd' WHERE src = 'c:d'")
      assert(vector(dir) == 35)
      val want = (0L until 300L).filterNot(_ % 7 == 0).toSet
      assert(sqlIds("gdvc.db.p") == want)
      assert(spark.sql("SELECT count(*) FROM gdvc.db.p WHERE v = 'upd'")
        .head().getLong(0) == want.count(_ % 5 == 1))
      spark.sql("DROP TABLE gdvc.db.p")
    }
  }

  test("marks on escaped partition paths name their manifest entries") {
    withNoAutoFlush {
      val dir = Files.createTempDirectory("graft-dvcarry-esc").toString
      rows(0, 100)
        .withColumn("src", element_at(typedLit(srcValues),
          (col("id") % 5).cast("int") + 1))
        .write.mode("overwrite").partitionBy("src").parquet(dir)
      Manifest.create(spark, dir, Seq("id"))
      val pred = col("id") % 7 === 0
      def idSrc(df: DataFrame): Set[(Long, String)] =
        df.select("id", "src").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      val want = idSrc(Manifest.readTable(spark, dir).filter(!pred))
      def connectorRead() = spark.read
        .format("graft.sources.ManifestSource").option("path", dir).load()
      Layout.deleteMergeOnRead(spark, dir, pred, Seq("id"))
      assert(vector(dir) == 15)
      assert(idSrc(Manifest.readTable(spark, dir)) == want)
      assert(idSrc(connectorRead()) == want)
      assert(Layout.flushDeleteVectors(spark, dir, Seq("id")) > 0)
      assert(!Manifest.hasDeletionVectors(spark, dir))
      assert(idSrc(Manifest.readTable(spark, dir)) == want)
      assert(idSrc(connectorRead()) == want)
    }
  }

  test("cloneTable copies live marks with their count") {
    withNoAutoFlush {
      val src = table("clone", 100, 4)
      Layout.deleteMergeOnRead(spark, src, col("id") % 4 === 0, Seq("id"))
      assert(vector(src) == 25)
      val dst = Files.createTempDirectory("graft-dvcarry-clone")
        .toString + "/t"
      Layout.cloneTable(spark, src, dst)
      assert(vector(dst) == 25)
      assert(ids(dst) == ids(src))
      assert(ids(dst) == (0L until 100L).filterNot(_ % 4 == 0).toSet)
    }
  }
}
