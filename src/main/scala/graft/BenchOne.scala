package graft

/** Time a handful of named `SparkEntry.queries` in one session —
  * the per-query companion to [[Bench]] for chasing a single flag
  * without a full 215-query run.
  *
  * Usage: runMain graft.BenchOne <query> [query ...] (reps via
  * SPARK_GRAFT_BENCH_REPS, sf dir via SPARK_GRAFT_SF_DIR).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val explain = sys.env.contains("SPARK_GRAFT_BENCH_EXPLAIN")
    val collected = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (name <- args) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      if (explain) println(fn(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
      val ts = (1 to reps).map { _ =>
        // same cross-run hygiene as Bench, outside the timed window:
        // the previous rep/query's localCheckpoint blocks sit in
        // getPersistentRDDs until a driver GC runs the ContextCleaner,
        // and their eviction pressure lands on THIS measurement
        // (observed: ns_dedup_clusters 16 s on rep 1 vs 100 s on
        // rep 2 of the same session without this).
        // SPARK_GRAFT_BENCH_NO_HYGIENE skips it — the DIAGNOSTIC mode
        // that measures a query under accumulated cross-rep state,
        // for adjudicating in-chain readings that exceed the hygienic
        // floor (round-16 verdict #6)
        if (!sys.env.contains("SPARK_GRAFT_BENCH_NO_HYGIENE")) {
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          System.gc()
        }
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val times = ts.map(_._1).sorted
      collected(name) = times.head
      println(f"""{"query":"$name","rows":${ts.head._2},""" +
        f""""min":${times.head}%.3f,"median":${times(times.size / 2)}%.3f,""" +
        f""""max":${times.last}%.3f,"reps":$reps}""")
    }
    // Isolated-min feed for the chain artifact (round-13 verdict #7):
    // one BenchOne invocation over the heavies writes a {query: min}
    // map that Bench embeds verbatim as "isolated_min", so cross-round
    // diffs of iterative queries compare isolated cost with isolated
    // cost instead of whatever GC envelope the 217-query chain
    // happened to apply that day.
    sys.env.get("SPARK_GRAFT_BENCH_ONE_OUT").foreach { p =>
      val json = collected.map { case (k, v) =>
        "\"" + k + "\":" + f"$v%.3f"
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
