package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Count-min sketch invariants, measured on real executions:
  *
  *  - the sketch build's shuffle is the fixed depth x width grid —
  *    growing the corpus 8x must NOT grow the exchange (map-side
  *    combine collapses the token stream into at most depth*width
  *    partial cells per task before any row moves);
  *  - the CMS error is one-sided over the ENTIRE vocabulary: a
  *    sketch cell is a sum over colliding tokens, so an estimate can
  *    never undercount. A single negative overestimate means the
  *    bucket arithmetic diverged between build and probe.
  */
class SketchSpec extends SparkSpec {

  private def shuffleOf(run: => Unit): Long =
    metered(run)._2.shuffleWriteBytes

  test("sketch-build shuffle is the fixed grid: 8x the corpus, same bytes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    // 8x the rows INSIDE the same partitions (a union would add
    // tasks, and partial grids are per-task — the claim is
    // row-independence at a given task count)
    val docs8 = docs
      .withColumn("rep", explode(array((0 until 8).map(lit(_)): _*)))
      .select((col("doc_id") * 8 + col("rep")).as("doc_id"), col("text"))

    val base = shuffleOf { assert(Sketch.cmsCells(docs).count() > 0) }
    val big = shuffleOf {
      assert(Sketch.cmsCells(docs8).count() <= Sketch.Depth * Sketch.Width)
    }
    // per-task partials are capped by the grid: 8x the token stream
    // through the same tasks must not grow the exchange materially
    assert(big <= base * 3 / 2,
      s"8x corpus grew the sketch shuffle $base -> $big bytes")
    assert(base < 256 * 1024, s"sketch build shuffled $base bytes")
  }

  test("single-pass Aggregator grid is cell-for-cell the row-form grid") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = asMap(Sketch.cmsCells(docs)
      .select(col("r").cast("int"), col("bucket").cast("long"), col("cnt")))
    val onePass = asMap(Sketch.cmsCellsOnePass(docs))
    assert(onePass == rows,
      s"grids differ: ${onePass.size} vs ${rows.size} cells")
  }

  test("property: HLL registers merge by max — split-invariant") {
    // THE mergeability law the incremental/streaming forms rest on:
    // registers(A union B) == max-merge(registers(A), registers(B))
    // for ANY partition of the rows. One Spark evaluation per sample,
    // so the sample count stays modest.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val words = (0 until 40).map(i => s"tok$i")
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.select(Sketch.hllReg(col("w")).as("reg"),
          Sketch.hllRank(col("w")).as("rank"))
        .groupBy("reg").agg(max("rank").as("m"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val splitGen = Gen.listOfN(words.size, Gen.oneOf(true, false))
    val prop = Prop.forAll(splitGen) { mask =>
      val (a, b) = words.zip(mask).partition(_._2)
      val whole = regs(words.toDF("w"))
      val left = regs(a.map(_._1).toDF("w"))
      val right = regs(b.map(_._1).toDF("w"))
      val merged = (left.keySet ++ right.keySet).map(k =>
        k -> math.max(left.getOrElse(k, 0), right.getOrElse(k, 0))).toMap
      merged == whole
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("CMS never underestimates, across the whole vocabulary") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the full-vocab variant of the query: every token probed
    val toks = Tok.tokens(docs, "text").select("token")
    val exact = toks.groupBy("token").agg(count(lit(1)).as("exact"))
    val full = Sketch.heavyHitters(docs, topK = Int.MaxValue)
    val bad = full.filter(col("overestimate") < 0).count()
    assert(bad == 0, s"$bad tokens under-counted — bucket arithmetic diverged")
    // and the probe covered the entire vocabulary
    assert(full.count() == exact.count())
  }

  test("heavyHitters estimates equal probing the stream-built grid") {
    // round-13 pins the rewrite's algebraic claim: summing exact
    // counts per cell (the vocab-sized window form the query now
    // runs) produces cell-for-cell the grid the token STREAM builds —
    // so the reported est values must match a direct probe of
    // cmsCells for every token
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val full = Sketch.heavyHitters(docs, topK = Int.MaxValue)
    val cells = Sketch.cmsCells(docs)
    val rs = explode(array((0 until Sketch.Depth).map(lit(_)): _*)).as("r")
    val streamEst = Tok.tokens(docs, "text").select("token").distinct()
      .select(col("token"), rs)
      .withColumn("bucket",
        graft.ops.H.hash30(concat(lit("cms"), col("r").cast("string"),
          lit("|"), col("token"))) % lit(Sketch.Width.toLong))
      .join(cells, Seq("r", "bucket"))
      .groupBy("token").agg(min(col("cnt")).as("est_stream"))
    val diverged = full.join(streamEst, "token")
      .filter(col("est") =!= col("est_stream")).count()
    assert(diverged == 0, s"$diverged tokens diverge from the stream grid")
  }
}
