package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The engine's scale claims, checked by counters, never by wall time:
  * each shape runs at 1x and 10x of the sf0.001 fixtures, and the spec
  * asserts a ratio of what [[SparkSpec.metered]] counts (shuffle bytes,
  * records read, output bytes) or of the bytes a commit lands. Fixture
  * rows are multiplied inside their own input partitions (an
  * `explode`, as SketchSpec does), so the task count stays fixed and a
  * per-task partial aggregate is comparable across the two runs. Each
  * bound leaves headroom over the ratio measured on 4 cores, which the
  * comment beside it gives.
  */
class ScaleClaimsSpec extends SparkSpec {

  private def docs: DataFrame =
    T(spark, sf, "documents").select("doc_id", "source", "text")

  /** `df` with every row `m` times in the same partitions; the ids
    * stay dense and distinct (`doc_id * m + copy`).
    */
  private def times(df: DataFrame, m: Int): DataFrame =
    df.withColumn("copy", explode(array((0 until m).map(lit(_)): _*)))
      .withColumn("doc_id", col("doc_id") * m + col("copy"))
      .drop("copy")

  /** `n` distinct synthetic documents in 4 input partitions. */
  private def synth(n: Long): DataFrame =
    spark.read.format("graft.sources.SynthDocsSource")
      .option("rows", n.toString).option("partitions", "4")
      .option("tokens", "20").load()

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-scale-$tag").toString

  private def treeBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(treeBytes).sum

  test("token counting and top-p shuffle the vocabulary: 10x rows, <= 1.5x bytes") {
    def shuffle(m: Int, f: DataFrame => DataFrame): Long =
      metered(f(times(docs, m)).collect())._2.shuffleWriteBytes
    val counts = (d: DataFrame) => Text.valueCounts(Text.tokenize(d), "token")
    val top = (d: DataFrame) => Text.topPTokens(d, 0.9)
    val hll = (d: DataFrame) => Sketch.hllDistinct(d)
    // measured (bytes, 1x -> 10x): counts 1,482 -> 1,493, top-p 3,251 ->
    // 3,240, HLL 14,900 -> 20,318 (its exact distinct count beside the
    // registers shuffles more of the vocabulary per source)
    for ((name, f) <- Seq("token counts" -> counts, "topPTokens" -> top,
        "hllDistinct" -> hll)) {
      val (one, ten) = (shuffle(1, f), shuffle(10, f))
      info(s"$name shuffle: 1x $one B, 10x $ten B")
      assert(one > 0 && ten <= one * 3 / 2,
        s"$name: 10x the rows grew the shuffle $one -> $ten bytes")
    }
  }

  test("exact dedup shuffles a fixed-width content hash: 10x text length, same bytes") {
    val long = docs.withColumn("text",
      concat_ws(" ", array_repeat(col("text"), 10)))
    // measured: 19,244 -> 19,291 bytes
    val one = metered(Dedup.exactDedup(docs).collect())._2
    val ten = metered(Dedup.exactDedup(long).collect())._2
    info(s"exactDedup shuffle: text 1x ${one.shuffleWriteBytes} B, " +
      s"10x ${ten.shuffleWriteBytes} B (input ${one.inputBytes} -> " +
      s"${ten.inputBytes} B)")
    assert(one.shuffleWriteBytes > 0 &&
      ten.shuffleWriteBytes <= one.shuffleWriteBytes * 11 / 10,
      s"10x longer texts grew the dedup shuffle " +
        s"${one.shuffleWriteBytes} -> ${ten.shuffleWriteBytes} bytes")
  }

  test("near-dup pair search over distinct docs: pairs and shuffle grow at most linearly") {
    val ops = Seq[(String, DataFrame => DataFrame)](
      "minhashLsh" -> (Dedup.minhashLsh(_, 0.5)),
      "simhashWidePairs" -> Dedup.simhashWidePairs,
      "crossDedup" -> (Pipeline.crossDedup(_, 0.5)))
    // measured (500 -> 5,000 docs): minhashLsh 500 -> 4,999 pairs,
    // 1.26 -> 12.7 MB; simhashWidePairs 259 -> 2,444, 0.49 -> 4.85 MB;
    // crossDedup 500 -> 4,999, 0.61 -> 6.17 MB
    for ((name, op) <- ops) {
      val (p1, t1) = metered(op(synth(500)).count())
      val (p10, t10) = metered(op(synth(5000)).count())
      info(s"$name: pairs $p1 -> $p10, shuffle ${t1.shuffleWriteBytes} -> " +
        s"${t10.shuffleWriteBytes} B")
      assert(p1 > 0 && p10 <= p1 * 11,
        s"$name: 10x the docs grew the pairs $p1 -> $p10")
      assert(t10.shuffleWriteBytes <= t1.shuffleWriteBytes * 12,
        s"$name: 10x the docs grew the shuffle ${t1.shuffleWriteBytes} " +
          s"-> ${t10.shuffleWriteBytes} bytes")
    }
  }

  test("an IVF probe with stride ~ sqrt(n) reads O(sqrt n) records") {
    def probeRecords(n: Long): Long = {
      val emb = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          d => pmod(hash(col("id") * 64 + d), lit(1000)).cast("double")
            / 500.0 - 1.0).as("embedding"))
      val stride = math.round(math.sqrt(n.toDouble))
      val dir = tmp("ivf")
      Similarity.ivfBuild(emb, dir, stride,
        (Similarity.TrainPerCell * (n / stride)).toInt)
      // the queries are a local relation, so the only records read are
      // the centroids and the probed cells (a range counts its rows too)
      val picked = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val queries = spark.createDataFrame(
        java.util.Arrays.asList(picked.collect(): _*), picked.schema)
      val (rows, t) = metered(
        Similarity.ivfQuery(queries, dir, 3, 2).collect())
      assert(rows.length == 12)
      t.inputRecords
    }
    // measured: 257 -> 813 records (3.2x)
    val (one, ten) = (probeRecords(1000), probeRecords(10000))
    info(s"ivfQuery records read: n 1000 -> $one, n 10000 -> $ten")
    assert(ten <= one * math.sqrt(10) * 1.5,
      s"10x the vectors grew the probe's reads $one -> $ten records")
  }

  /** A table of the documents `m` times over, `rowsPerFile` rows to a
    * file, with a manifest.
    */
  private def table(m: Int, rowsPerFile: Int, tag: String): String = {
    val dir = tmp(tag)
    times(docs, m).coalesce(1).sortWithinPartitions("doc_id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile.toLong).parquet(dir)
    Manifest.create(spark, dir, Seq("doc_id"))
    dir
  }

  /** 50 rows at either scale: two files' worth, straddling a boundary. */
  private val band = col("doc_id") >= 125L && col("doc_id") < 175L

  test("a merge-on-read delete writes bytes independent of table size") {
    def written(m: Int): Long = {
      val dir = table(m, 50, s"mor$m")
      val ((marked, _), t) = metered(
        Layout.deleteMergeOnRead(spark, dir, band, Seq("doc_id")))
      assert(marked == 50)
      t.outputBytes
    }
    // measured: 11,397 -> 3,843 bytes (the 10x table's copies of a text
    // sit side by side, so its change record compresses better)
    val (one, ten) = (written(1), written(10))
    info(s"deleteMergeOnRead output: 1x $one B, 10x $ten B")
    assert(one > 0 && ten <= one * 5 / 4,
      s"10x the table grew the delete's writes $one -> $ten bytes")
  }

  test("an in-place delete writes data bytes per file it hits, not per table file") {
    // the data files the delete adds: the survivors of the files it
    // hits. (Its other writes, the change record and the rewrite of
    // the manifest chunk that lists the hit files, are not counted.)
    def added(m: Int): (Long, Int, Int) = {
      val dir = table(m, 50, s"inplace$m")
      val before = Manifest.read(spark, dir).get.map(_.name).toSet
      val (hit, total) = Layout.deleteInPlace(spark, dir, band, Seq("doc_id"))
      val bytes = Manifest.read(spark, dir).get
        .filterNot(e => before(e.name)).map(_.bytes).sum
      (bytes, hit, total)
    }
    // measured: 9,596 -> 4,872 bytes, 2 files hit of 10 and of 100
    val (one, hit1, total1) = added(1)
    val (ten, hit10, total10) = added(10)
    info(s"deleteInPlace data written: 1x $one B ($hit1 of $total1 files " +
      s"hit), 10x $ten B ($hit10 of $total10)")
    assert(hit1 == 2 && hit10 == 2 && total10 == 10 * total1)
    assert(one > 0 && ten <= one * 5 / 4,
      s"10x the table files grew the delete's data writes $one -> $ten bytes")
  }

  test("a chunked commit lands the same manifest bytes at commit 1 and commit 32") {
    val dir = tmp("chunks")
    val mf = new java.io.File(s"$dir/${Manifest.DirName}")
    def entries(k: Int): Seq[ManifestEntry] = (0 until 1000).map { i =>
      val f = k * 1000L + i
      ManifestEntry(f"part-$f%06d.parquet", 1000L, 1L << 20,
        Seq(ColRange("doc_id", f * 1000L, f * 1000L + 999)))
    }
    val landed = (1 to 32).map { k =>
      val before = treeBytes(mf)
      val carried =
        if (k == 1) Nil else Manifest.chunkRefs(spark, dir, k - 1).get
      Manifest.writeChunked(spark, dir, k, carried, Seq(entries(k)))
      treeBytes(mf) - before
    }
    // measured: 115,256 -> 118,399 bytes (the chunk list gains a line
    // per commit; the 1,000 new entries dominate)
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val (first, last) = (median(landed.take(10)), median(landed.takeRight(10)))
    info(s"manifest bytes per commit: median of first 10 $first B, " +
      s"of last 10 $last B")
    assert(last <= first * 11 / 10,
      s"commit metadata grew with the table: $first -> $last bytes")
  }

  test("sustained band deletes keep marks under 10% of live rows plus a band") {
    val dir = tmp("sustain")
    val rows = 20000L
    val width = 500L
    spark.range(0, rows)
      .select(col("id"), concat(lit("d"), col("id")).as("txt")).repartition(8).write.mode("overwrite").parquet(dir)
    Manifest.create(spark, dir, Seq("id"))
    val steps = (0 until 12).map { k =>
      val lo = k * width
      Layout.deleteMergeOnRead(spark, dir,
        col("id") >= lo && col("id") < lo + width, Seq("id"))
      val v = Manifest.currentVersion(spark, dir).get
      val marks = Manifest.dvMarks(spark, dir, v).count()
      val live = Manifest.read(spark, dir).get.map(_.rows).sum
      assert(marks <= 0.10 * live + width,
        s"delete $k: $marks marks on $live rows — the vector is unbounded")
      marks
    }
    // measured: 500, 1000, 1500, 2000, then a flush (0), and again
    info(s"marks after each delete: ${steps.mkString(", ")}")
    assert(steps.contains(0L), "the auto-flush never fired")
    assert(Manifest.readTable(spark, dir).count() == rows - 12 * width)
  }
}
