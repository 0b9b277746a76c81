package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry

/** Read-only registry queries, each fully materialized into the noop
  * sink, in a seeded order per pass. Catalyst and Spark execution do
  * the work; the planner and the table commit path are absent.
  */
final class QueryMix extends Workload {
  import QueryMix._

  def unitKinds: Set[String] = Set("query")
  override def minPasses: Int = 2

  private var rng: scala.util.Random = _

  private def run(ctx: Ctx, q: String) = {
    val df = ctx.trace.span("build", "catalyst")(
      SparkEntry.queries(q)(ctx.spark, ctx.data))
    ctx.trace.span("execute", "exec")(
      df.write.format("noop").mode("overwrite").save())
  }

  /** Every query once, writing each result as parquet for the oracle
    * check: warms the JVM, codegen and table metadata. Sequential, like
    * the passes (a parallel warm-up left the first pass ~20% slower).
    */
  def warmup(ctx: Ctx): Unit = {
    rng = new scala.util.Random(ctx.seed)
    Queries.foreach { q =>
      try SparkEntry.queries(q)(ctx.spark, ctx.data)
        .write.mode("overwrite").parquet(s"${ctx.work}/check/$q")
      catch { case e: Throwable => checkFailures(q) = e }
    }
  }

  private val checkFailures = mutable.LinkedHashMap.empty[String, Throwable]

  /** Open every input table: list its files and read its schema. */
  def setupUnit(ctx: Ctx): Unit = Tables.foreach { t =>
    ctx.spark.read.parquet(s"${ctx.data}/$t.parquet").schema
  }

  def pass(ctx: Ctx): Unit =
    rng.shuffle(Queries).foreach(q => ctx.op("query", q)(run(ctx, q)))

  def check(ctx: Ctx): Map[String, Any] = {
    val oracle = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    Files.write(Paths.get(s"${ctx.work}/oracle.json"),
      Json(oracle).getBytes(UTF_8))
    Map("kind" -> "query_mix", "dir" -> s"${ctx.work}/check",
      "oracle" -> s"${ctx.work}/oracle.json",
      "failed_checks" -> checkFailures.toSeq.map { case (q, e) =>
        Map("name" -> q, "error_class" -> e.getClass.getName,
          "error_message" -> String.valueOf(e.getMessage))
      })
  }
}

object QueryMix {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The roadmap's worst under-timed queries first (exact percentile,
    * map functions, distinct aggregates), then TPC-H-shaped joins,
    * windows, and text / dedup / similarity operators. None writes a
    * table or index directory. Seven keep a warm pass near 5 s on 4
    * cores, so a run fits warm-up plus two or three measured passes.
    */
  val Queries: Vector[String] = Vector(
    "g3_approx_stats", "g3_stats", "f10_map_funcs", "g3_distinct_agg",
    "q9_nation_profit", "w2_top90_detail", "ns_dedup_minhash_lsh")
}
