package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A whole-table replace (`overwriteInPlace`: SQL `INSERT OVERWRITE`,
  * `TRUNCATE TABLE`, the BM25 flush) records no change set; the
  * per-version feed derives it at read time — the replaced version's
  * live rows as deletes, the new files' rows as inserts.
  */
class ChangeFeedReplaceSpec extends SparkSpec {

  private def table(tag: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft-cfr-$tag").toString
    (0L until 10L).map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(2).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))                          // v1
    dir
  }

  private def kinds(dir: String, from: Int, to: Int): Map[String, Long] =
    Manifest.readChangeFeed(spark, dir, from, to)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("an overwrite reads as the old rows deleted and the new inserted") {
    import spark.implicits._
    val dir = table("over")
    Layout.overwriteInPlace(spark, dir,
      (100L until 105L).map(i => (i, s"n$i")).toDF("id", "v"), Seq("id")) // v2
    assert(kinds(dir, 1, 2) == Map("delete" -> 10L, "insert" -> 5L))
    val feed = Manifest.readChangeFeed(spark, dir, 1, 2)
    assert(feed.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq == (0L until 10L))
    assert(feed.filter(col("_change_type") === "insert")
      .select("id").as[Long].collect().sorted.toSeq == (100L until 105L))
    assert(feed.select("_commit_version").distinct().as[Long].collect()
      .toSeq == Seq(2L))
  }

  test("a truncate reads as deletes only, and the replaced version's marks hold") {
    import spark.implicits._
    val dir = table("trunc")
    spark.conf.set("spark.graft.dv.autoFlushRatio", "0")
    try Layout.deleteMergeOnRead(spark, dir, col("id") < 3, Seq("id")) // v2
    finally spark.conf.unset("spark.graft.dv.autoFlushRatio")
    Layout.overwriteInPlace(spark, dir,
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))          // v3
    assert(Manifest.readTable(spark, dir).count() == 0)
    // v2's marked rows were already deleted by v2: only 7 remain to go
    assert(kinds(dir, 2, 3) == Map("delete" -> 7L))
    assert(kinds(dir, 1, 3) == Map("delete" -> 10L))
  }
}
