package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Spark jobs a keep-best ingest batch runs, pinned: the batch over
  * standing LSH + BM25 tables cloned from fixture masters runs exactly
  * [[BatchJobsSpec.BatchJobs]] jobs, none of them a file-listing job —
  * every read plans from manifest entries, every write reports its
  * entries — and reading a table that carries a deletion vector plans
  * with no job at all. A change that adds a job to the batch moves
  * this number on purpose or not at all. The clustered standing
  * tables take one data file per commit: one LSH file, and at most
  * one BM25 file per `kind`.
  */
class BatchJobsSpec extends SparkSpec {
  import BatchJobsSpec._

  /** Descriptions of the jobs `f` runs, in start order. */
  private def jobsOf(f: => Unit): Seq[String] = metered(f)._2.jobs

  test("a keep-best batch runs a pinned number of jobs, none of them a listing") {
    val docs = T(spark, sf, "documents")
    val corpus = Dedup.corpusWithVariants(docs)
    val batch = corpus.filter((col("doc_id") % 60).isin(Orbit: _*))
    val base = corpus.filter(!(col("doc_id") % 60).isin(Orbit: _*))
    def asText(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), array_join(col("toks"), " ").as("text"))
    val work = Files.createTempDirectory("graft-batchjobs").toString
    val id = Some("batchjobs-spec")
    Dedup.lshIndexBuild(base, s"$work/master/lsh", id)
    Bm25Index.build(asText(base), s"$work/master/bm25", id)
    Dedup.lshIndexFresh(base, s"$work/master/lsh", s"$work/t/lsh", id)
    Bm25Index.fresh(asText(base), s"$work/master/bm25", s"$work/t/bm25", id)
    val lsh = s"$work/t/lsh/bands"
    val bm25 = s"$work/t/bm25/index"
    def names(t: String) = Manifest.read(spark, t).get.map(_.name).toSet
    val (lshBefore, bm25Before) = (names(lsh), names(bm25))
    val jobs = jobsOf(Pipeline.kbApplyBatch(batch, s"$work/t", 1L, 0.5,
      "batchjobs-spec"))
    assert(!jobs.exists(_.startsWith("Listing leaf files")),
      jobs.mkString("\n"))
    assert(jobs.size == BatchJobs, jobs.mkString("\n"))
    assert((names(lsh) -- lshBefore).size == 1)
    val bm25Added = (names(bm25) -- bm25Before).toSeq
    assert(bm25Added.nonEmpty &&
      bm25Added.groupBy(_.takeWhile(_ != '/')).values.forall(_.size == 1),
      bm25Added.mkString("\n"))
    // the batch left a vector on the LSH table: reading it plans with
    // no job (no listing, no schema inference)
    assert(Manifest.hasDeletionVectors(spark, lsh))
    assert(jobsOf(Manifest.readTable(spark, lsh).queryExecution
      .executedPlan: Unit).isEmpty)
  }
}

object BatchJobsSpec {
  /** Residues mod 60 of the batch: new originals (a+20) with their
    * in-batch variants (a), and originals meeting their variants in the
    * base — every decision kind occurs.
    */
  val Orbit = Seq(7, 27)

  val BatchJobs = 26
}
