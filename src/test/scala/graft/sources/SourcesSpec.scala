package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** File source/sink specs against a temp corpus (the usenet-shaped
  * glob -> whole-file-read path, S1/S2/S3/S6/A8).
  */
class SourcesSpec extends SparkSpec {

  private lazy val corpus: String = {
    val dir = Files.createTempDirectory("graft_corpus")
    for (g <- Seq("g1", "g2"); i <- 1 to 3) {
      val sub = dir.resolve(g); Files.createDirectories(sub)
      Files.writeString(sub.resolve(s"doc$i.txt"),
        s"From: user$i\nbody of $g doc $i\nlast line")
    }
    dir.toString
  }

  test("glob listing yields one row per file, path column only") {
    val paths = Sources.globPaths(spark, s"$corpus/*/*", "usenet.path")
    assert(paths.columns.toSeq == Seq("usenet.path"))
    assert(paths.count() == 6)
  }

  test("wholeText reads full files beside their paths, distributed") {
    val df = Sources.wholeText(spark, s"$corpus/*/*")
    assert(df.count() == 6)
    val one = df.filter(col("path").endsWith("g1/doc1.txt")).collect()
    assert(one.length == 1)
    assert(one(0).getAs[String]("text") ==
      "From: user1\nbody of g1 doc 1\nlast line")
  }

  test("textLines + prefix filter reproduces the From: pipeline (P2)") {
    val lines = Sources.textLines(spark, s"$corpus/*/*")
    assert(lines.count() == 18) // 3 lines x 6 files
    val from = lines.filter(col("line").startsWith("From:"))
    assert(from.count() == 6)
  }

  test("csv sink/source round-trip, single-file mode") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_csv").toString + "/out"
    val df = Seq((1L, "a,with,commas"), (2L, "plain")).toDF("id", "s")
    Sources.writeCsv(df, out, singleFile = true)
    val back = Sources.csv(spark, out)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("json round-trip preserves rows and nested extraction works") {
    val out = Files.createTempDirectory("graft_json").toString + "/out"
    val ev = graft.ops.T(spark, sf, "events").limit(200)
    Sources.writeJson(ev.select("event_id", "event_type", "props"), out)
    val back = Sources.json(spark, out)
    assert(back.count() == 200)
    assert(back.select(get_json_object(col("props"), "$.k")).na.drop()
      .count() == 200)
  }

  test("orc round-trip preserves rows; predicate pushes to the orc scan") {
    val out = Files.createTempDirectory("graft_orc").toString + "/out"
    val orders = graft.ops.T(spark, sf, "orders")
    Sources.writeOrc(orders, out)
    val back = Sources.orc(spark, out)
    assert(back.count() == orders.count())
    val filtered = back.filter(col("o_totalprice") > 300000)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(o_totalprice"), plan.take(1500))
    assert(filtered.count() ==
      orders.filter(col("o_totalprice") > 300000).count())
  }

  test("catalog surface: saveAsTable, spark.table, insertInto append") {
    val nation = graft.ops.T(spark, sf, "nation")
    spark.sql("DROP TABLE IF EXISTS graft_nation")
    nation.write.mode("overwrite").saveAsTable("graft_nation")
    assert(spark.table("graft_nation").count() == nation.count())
    assert(spark.catalog.tableExists("graft_nation"))
    nation.limit(5).write.insertInto("graft_nation")
    assert(spark.table("graft_nation").count() == nation.count() + 5)
    spark.sql("DROP TABLE graft_nation")
  }

  test("observe() collects pipeline metrics without a second pass") {
    import org.apache.spark.sql.Observation
    val obs = Observation("docs_metrics")
    val docs = graft.ops.T(spark, sf, "documents")
      .observe(obs, count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
    val n = docs.count()
    assert(obs.get("n") == n)
    assert(obs.get("chars").asInstanceOf[Long] > 0)
  }

  test("plan cache: same plan hits, different plan misses") {
    val cache = Files.createTempDirectory("graft_cache").toString
    val docs = graft.ops.T(spark, sf, "documents").select("doc_id", "lang")
    val first = Sources.PlanCache.materialize(spark, docs, cache)
    assert(first.count() == docs.count())
    val k1 = Sources.PlanCache.planKey(docs)
    assert(new java.io.File(s"$cache/$k1/_SUCCESS").exists())
    // identical plan -> same key; different plan -> different key
    assert(Sources.PlanCache.planKey(
      graft.ops.T(spark, sf, "documents").select("doc_id", "lang")) == k1)
    assert(Sources.PlanCache.planKey(docs.filter(col("doc_id") > 10)) != k1)
  }

  test("plan cache: same-shaped local frames with other rows or names get their own keys") {
    import spark.implicits._
    val cache = Files.createTempDirectory("graft_local").toString
    val two = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    val three = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag")
    val otherRows = Seq((1L, "x"), (2L, "y")).toDF("id", "tag")
    val renamed = Seq((1L, "a"), (2L, "b")).toDF("key", "label")
    val keys = Seq(two, three, otherRows, renamed)
      .map(Sources.PlanCache.planKey)
    assert(keys.distinct.size == 4, keys)
    // the same rows under the same names still share a key
    assert(Sources.PlanCache.planKey(
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag")) == keys.head)
    // each frame's status reports its own row count
    Seq(two -> 2L, three -> 3L, renamed -> 2L).foreach { case (df, n) =>
      val key = Sources.PlanCache.submit(spark, df, cache)
      assert(Sources.PlanCache.await(spark, key, cache).columns.toSeq ==
        df.columns.toSeq)
      assert(Sources.PlanCache.poll(key)
        .contains(Sources.PlanCache.Done(n)), s"$key: expected Done($n)")
    }
  }

  test("DSv2 synthetic source: deterministic, partitioned, file-less") {
    def read = spark.read.format("graft.sources.SynthDocsSource")
      .option("rows", "10000").option("partitions", "16")
      .option("tokens", "12").load()
    assert(read.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    assert(read.count() == 10000)
    assert(read.rdd.getNumPartitions == 16)
    // deterministic across reads
    val a = read.orderBy("doc_id").limit(3).collect().map(_.getString(1))
    val b = read.orderBy("doc_id").limit(3).collect().map(_.getString(1))
    assert(a.sameElements(b))
    // unique vocabulary per doc -> exact dedup finds only the planted copies
    val groups = graft.ops.Dedup.exactDedup(read.limit(100))
    assert(groups.count() == 100)
  }

  test("async cache: submit returns at once, poll reaches Done, await reads") {
    val cache = Files.createTempDirectory("graft_async").toString
    val docs = graft.ops.T(spark, sf, "documents").select("doc_id", "source")
    val key = Sources.PlanCache.submit(spark, docs, cache)
    assert(Sources.PlanCache.poll(key).isDefined) // Running or already Done
    val fetched = Sources.PlanCache.await(spark, key, cache)
    assert(fetched.count() == docs.count())
    assert(Sources.PlanCache.poll(key)
      .contains(Sources.PlanCache.Done(docs.count())))
    // resubmission of a finished plan is an idempotent no-op
    assert(Sources.PlanCache.submit(spark, docs, cache) == key)
    assert(Sources.PlanCache.poll("nope").isEmpty)
  }
}
