package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.{Analysis, Bm25Index, Dedup, Manifest, Pipeline, T}

/** Keep-best ingest into standing LSH + BM25 tables: each pass pushes
  * two batches through the cross-index transaction and runs one BM25
  * search after each, so reads sit beside writes.
  *
  * Batches are residue classes mod 60 of `Dedup.corpusWithVariants`,
  * whose variant ids sit 1,000,000 ≡ 40 (mod 60) above their
  * originals. Batch j takes residues {a, a+20} of a seeded orbit
  * {a, a+20, a+40}; residue a+40 stays in the base table. So every
  * batch has the same decision mix: originals ≡ a+20 are new and their
  * variants (≡ a) repeat them inside the batch (kept / dup_batch);
  * originals ≡ a meet their shorter variants in the base and variants
  * ≡ a+20 meet their longer originals there, so corpus matches go both
  * ways (replaced_corpus / dup_corpus by quality). Batches use distinct
  * orbits, so no batch depends on another and passes cost the same.
  */
final class IngestKeepBest extends Workload {
  import IngestKeepBest._

  def unitKinds: Set[String] = Set("batch")

  private var docs: DataFrame = _
  private var orbits: Seq[Int] = Nil
  private var dir = ""
  private var clones = 0
  private var batchRows = Map.empty[Int, (Long, Long)]
  private var before = State(0, 0, 0L)
  private var applied = 0
  private var lastSearch: Option[(Seq[Row], StructType)] = None

  private def corpus = Dedup.corpusWithVariants(docs)
  private def residues(j: Int) = Seq(orbits(j - 1), orbits(j - 1) + 20)
  private def batch(j: Int) =
    corpus.filter((col("doc_id") % 60).isin(residues(j): _*))
  private def base = corpus.filter(!(col("doc_id") % 60)
    .isin((1 to MaxBatches).flatMap(residues): _*))
  private def asText(df: DataFrame) =
    df.select(col("doc_id"), array_join(col("toks"), " ").as("text"))

  /** Size every batch and build the read-only masters of both
    * standing tables.
    */
  def warmup(ctx: Ctx): Unit = {
    docs = T(ctx.spark, ctx.data, "documents")
    orbits = new scala.util.Random(ctx.seed).shuffle((0 until 20).toList)
      .take(MaxBatches)
    val sized = asText(corpus).groupBy((col("doc_id") % 60).as("r"))
      .agg(count(lit(1)), sum(length(col("text")))).collect()
      .map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2)))).toMap
    batchRows = (1 to MaxBatches).map { j =>
      val rs = residues(j).flatMap(sized.get)
      j -> ((rs.map(_._1).sum, rs.map(_._2).sum))
    }.toMap
    Main.parallel(2)(Seq(
      () => Dedup.lshIndexBuild(base, s"${ctx.work}/master/lsh", masterId(ctx)),
      () => Bm25Index.build(asText(base), s"${ctx.work}/master/bm25",
        masterId(ctx))))
  }

  private def masterId(ctx: Ctx) =
    Some(s"perfbench-seed${ctx.seed}-${orbits.mkString(".")}")

  /** A fresh mutable copy of both standing tables, cloned from the
    * masters.
    */
  def setupUnit(ctx: Ctx): Unit = {
    clones += 1
    dir = s"${ctx.work}/standing-$clones"
    Dedup.lshIndexFresh(base, s"${ctx.work}/master/lsh", s"$dir/lsh",
      masterId(ctx))
    Bm25Index.fresh(asText(base), s"${ctx.work}/master/bm25", s"$dir/bm25",
      masterId(ctx))
    if (ctx.traced) before = state(ctx)
    applied = 0
  }

  private def passBatches(pass: Int) =
    (pass - 1) * BatchesPerPass + 1 to pass * BatchesPerPass

  def pass(ctx: Ctx): Unit = passBatches(ctx.pass).foreach { j =>
    require(j <= MaxBatches, s"only $MaxBatches batches are planned")
    val (rows, bytes) = batchRows(j)
    ctx.op("batch", s"batch$j", Map("docs" -> rows.toDouble,
      "text_bytes" -> bytes.toDouble)) {
      ctx.trace.span("kbApplyBatch", "ingest")(
        Pipeline.kbApplyBatch(batch(j), dir, j.toLong, 0.5, App))
    }
    applied = j
    ctx.op("search", s"search$j") {
      ctx.trace.span("topDocs", "ingest") {
        val df = Bm25Index.topDocs(ctx.spark, s"$dir/bm25", NTerms, K)
        lastSearch = Some((df.collect().toSeq, df.schema))
      }
    }
  }

  private def tables = Seq(s"$dir/lsh/bands", s"$dir/bm25/index")

  private def state(ctx: Ctx): State = State(
    tables.map(t => Manifest.currentVersion(ctx.spark, t).getOrElse(0)).sum,
    tables.map(t => Manifest.read(ctx.spark, t).map(_.size).getOrElse(0)).sum,
    liveIds(ctx).count())

  private def liveIds(ctx: Ctx) =
    Manifest.readTable(ctx.spark, s"$dir/lsh/bands").select("doc_id").distinct()

  /** Per batch of the pass: commits, kept share, bytes written per
    * byte of batch text; live files after it.
    */
  override def afterPass(ctx: Ctx, pass: Map[String, Double]): Map[String, Double] = {
    val now = state(ctx)
    val sized = passBatches(ctx.pass).map(batchRows)
    val (rows, bytes) = (sized.map(_._1).sum, sized.map(_._2).sum)
    val m = Map(
      "table.commits" -> (now.versions - before.versions).toDouble /
        BatchesPerPass,
      "table.live_files" -> now.liveFiles.toDouble,
      "ingest.kept_ratio" -> (now.live - before.live).toDouble / rows,
      "ingest.write_amp" -> pass.getOrElse("fs.bytes_written", 0.0) / bytes)
    before = now
    m
  }

  /** Write the live corpus (the LSH table's ids with their text) and
    * the last search's rows; the DuckDB side scores the corpus from
    * scratch with the registry's BM25 oracle and compares.
    */
  def check(ctx: Ctx): Map[String, Any] = {
    val live = asText(corpus).join(liveIds(ctx), "doc_id")
    live.write.mode("overwrite").parquet(s"${ctx.work}/live")
    val (rows, schema) = lastSearch.getOrElse((Nil, new StructType()))
    ctx.spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"${ctx.work}/final_search")
    Files.write(Paths.get(s"${ctx.work}/oracle.json"),
      Json(Map("final_search" -> Analysis.bm25TopDocsOracle(NTerms, K)))
        .getBytes(UTF_8))
    val ingested = asText(base).agg(sum(length(col("text")))).head().getLong(0) +
      (1 to applied).map(batchRows(_)._2).sum
    Map("kind" -> "ingest_keep_best", "live" -> s"${ctx.work}/live",
      "final_search" -> s"${ctx.work}/final_search",
      "oracle" -> s"${ctx.work}/oracle.json",
      "batches_applied" -> applied,
      "space_amp" -> du(new File(dir)).toDouble / ingested)
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length()
}

object IngestKeepBest {
  val BatchesPerPass = 2
  val MaxBatches = 8
  val NTerms = 10
  val K = 3
  val App = "perfbench-keep-best"

  final case class State(versions: Int, liveFiles: Int, live: Long)
}
