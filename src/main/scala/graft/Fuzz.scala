package graft

import org.apache.spark.sql.SparkSession

/** Spark side of the differential query fuzzer
  * (`tools/fuzz_oracle.py`): registers the driver's parquet tables as
  * temp views (through [[graft.ops.T]], so `ts` normalization matches
  * every other query), executes each generated `<outDir>/spark_sql/
  * <name>.sql` file, and writes the result to `<outDir>/results/
  * <name>` parquet for the Python harness to compare against DuckDB
  * running the paired dialect rendering of the SAME random plan.
  *
  * The 217 fixed oracle queries can only catch semantic gaps they
  * express; the fuzzer samples the composition space the reference's
  * planner enumerates (solve.py:30-59) — filter/join/agg/window/
  * explode chains — with fresh random shapes every round.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = GraftSession.local()
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents")
    tables.foreach { t =>
      if (new java.io.File(s"$sfDir/$t.parquet").exists())
        graft.ops.T(spark, sfDir, t).createOrReplaceTempView(t)
    }
    val sqlDir = new java.io.File(s"$outDir/spark_sql")
    val files = Option(sqlDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    // the .err sidecar path must exist even if the FIRST query fails
    // spark-side (round-12 advisor: parquet write creates it only on
    // success)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir, "results"))
    var failed = 0
    files.foreach { f =>
      val name = f.getName.stripSuffix(".sql")
      val sql = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      try spark.sql(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/results/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] $name failed: ${e.getMessage}")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/results", s"$name.err"),
          String.valueOf(e.getMessage))
      }
    }
    // ---- parameterized pipeline-operator invocations (round 16) ----
    // `<outDir>/ops/<name>.props` (key=value lines, an `op` key plus
    // that op's parameters) runs a LIBRARY operator with fuzzed
    // parameters and dumps BOTH the result parquet and the op's own
    // parameterized DuckDB oracle (`<outDir>/ops_oracle/<name>.sql`) —
    // one source of truth for the template, the Python harness only
    // executes and compares. This is how the fuzzer reaches the ops
    // the SQL grammar can't express (minSim/shingle-n/df-cap/budget/
    // residue spaces of the ns_ dedup + mixing family).
    val opsDir = new java.io.File(s"$outDir/ops")
    val opFiles = Option(opsDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".props")).sortBy(_.getName)
    if (opFiles.nonEmpty)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(outDir, "ops_oracle"))
    opFiles.foreach { f =>
      val name = f.getName.stripSuffix(".props")
      val props = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator.filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); (k.trim, v.trim) }
        .toMap
      try {
        val (df, oracle) = FuzzOps.run(spark, sfDir, props)
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/results/$name")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, "ops_oracle", s"$name.sql"),
          oracle)
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] $name failed: ${e.getMessage}")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/results", s"$name.err"),
          String.valueOf(e.getMessage))
      }
    }
    println(s"fuzz: ran ${files.length + opFiles.length} queries, " +
      s"$failed spark-side errors")
    spark.stop()
  }
}

/** Registry mapping a fuzzed op spec to (result frame, DuckDB oracle)
  * — each entry pairs a library operator with ITS OWN parameterized
  * oracle template, so the fuzz compare exercises the same template
  * the fixed queries pin, across the randomized parameter space.
  */
object FuzzOps {
  def run(spark: SparkSession, sfDir: String,
      p: Map[String, String]): (org.apache.spark.sql.DataFrame, String) = {
    val docs = graft.ops.T(spark, sfDir, "documents")
    def d(k: String) = p(k).toDouble
    def i(k: String) = p(k).toInt
    def l(k: String) = p(k).toLong
    // incremental shapes build a throwaway index; results are
    // eagerly checkpointed, so the dir can be reclaimed immediately
    def rmrf(p0: String): Unit = {
      def rec(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rec))
        f.delete(): Unit
      }
      rec(new java.io.File(p0))
    }
    p("op") match {
      case "ngram_jaccard" =>
        (graft.ops.Dedup.ngramJaccard(
          graft.ops.Dedup.ngramFixture(docs, i("residue")),
          d("minSim"), i("maxDf"), i("n")),
          graft.ops.Dedup.ngramJaccardOracle(
            d("minSim"), i("maxDf"), i("n"), i("residue")))
      case "ngram_containment" =>
        (graft.ops.Dedup.ngramContainment(
          graft.ops.Dedup.ngramFixture(docs, i("residue")),
          d("minCont"), i("maxDf"), i("n")),
          graft.ops.Dedup.ngramContainmentOracle(
            d("minCont"), i("maxDf"), i("n"), i("residue")))
      case "bm25_topdocs" =>
        (graft.ops.Analysis.bm25TopDocs(docs, i("nTerms"), i("k")),
          graft.ops.Analysis.bm25TopDocsOracle(i("nTerms"), i("k")))
      case "bm25_query" =>
        (graft.ops.Analysis.bm25Query(docs, i("nQueries"), i("qTerms"),
          i("k")),
          graft.ops.Analysis.bm25QueryOracle(i("nQueries"), i("qTerms"),
            i("k")))
      case "token_budget_mix" =>
        (graft.ops.Pipeline.tokenBudgetMix(docs, l("budgetPer"),
          i("budgetMod")),
          graft.ops.Pipeline.tokenBudgetMixOracle(l("budgetPer"),
            i("budgetMod")))
      case "keep_best" =>
        (graft.ops.Dedup.dedupKeepBest(docs, d("minSim")),
          graft.ops.Dedup.dedupKeepBestOracle(d("minSim")))
      // ------- standing-state (incremental) shapes, round-17: the
      // fixed fixtures get randomized residues / splits / minSim
      case "dedup_incr" =>
        // fresh index over the randomized base split, probe the batch
        val dir = java.nio.file.Files
          .createTempDirectory("graft-fuzz-incr").toString
        graft.ops.Dedup.lshIndexBuild(graft.ops.Dedup.incrBaseP(docs,
          i("m1"), i("r1"), i("m2"), i("r2")), dir)
        val incrRes = graft.ops.Dedup.dedupBatchVsIndex(
          graft.ops.Dedup.incrBatchP(docs,
            i("m1"), i("r1"), i("m2"), i("r2")), dir, d("minSim"))
          .localCheckpoint(true)
        rmrf(dir)
        (incrRes, graft.ops.Dedup.dedupIncrOracle(d("minSim"),
          i("m1"), i("r1"), i("m2"), i("r2")))
      case "keep_best_incr" =>
        // the MUTATING keep-best apply over the standard split,
        // randomized minSim (the oracle template is minSim-general)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-fuzz-kb").toString
        graft.ops.Dedup.lshIndexBuild(graft.ops.Dedup.incrBase(docs), dir)
        val kbRes = graft.ops.Dedup.dedupBatchVsIndexKeepBestApply(
          graft.ops.Dedup.incrBatch(docs), dir, d("minSim"))
        rmrf(dir)
        (kbRes, graft.ops.Dedup.dedupKeepBestIncrOracle(d("minSim")))
      case "corpus_keep_best_bm25" =>
        // round-18: the COMPOSED shape — keep-best arbitration against
        // the LSH index, displaced docs un-indexed from the BM25 index,
        // final probe scored against the post-replacement corpus; the
        // oracle unrolls all three batches in SQL and recomputes BM25
        // from scratch over exactly the kept set
        val dir = java.nio.file.Files
          .createTempDirectory("graft-fuzz-kbm").toString
        val kbmRes = graft.ops.Pipeline.corpusKeepBestBm25(
          docs, dir, d("minSim"), i("nTerms"), i("k"))
          .localCheckpoint(true)
        rmrf(dir)
        (kbmRes, graft.ops.Pipeline.corpusKeepBestBm25Oracle(
          d("minSim"), i("nTerms"), i("k")))
      case "bm25_index_split" =>
        // build+append the persisted index under a RANDOM batch split;
        // the probe must be bit-equal to the split-blind recompute
        // oracle (df/dl additivity is split-invariant by design)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-fuzz-bmidx").toString
        val m = i("splitMod")
        graft.ops.Bm25Index.build(
          docs.filter(org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.lit(m.toLong)) === 0), dir)
        (1 until m).foreach { r =>
          graft.ops.Bm25Index.append(
            docs.filter(org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.lit(m.toLong)) === r), dir)
        }
        val bmRes = graft.ops.Bm25Index
          .topDocs(spark, dir, i("nTerms"), i("k")).localCheckpoint(true)
        rmrf(dir)
        (bmRes, graft.ops.Analysis.bm25TopDocsOracle(i("nTerms"), i("k")))
      case other => sys.error(s"unknown fuzz op '$other'")
    }
  }
}
