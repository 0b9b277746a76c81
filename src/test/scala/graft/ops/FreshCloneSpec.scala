package graft.ops

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The build-once-master clone path's STALE-MASTER guard (round-17
  * advisor): `lshIndexFresh` / `Bm25Index.fresh` used to validate only
  * geometry + a committed version on the master — a master built over
  * a DIFFERENT corpus at the same path would silently clone outdated
  * state and every probe would return wrong results. Both now record a
  * corpus fingerprint (`count:bit_xor(xxhash64(cols))` sidecar) at
  * build time and require it to match before cloning: mismatch
  * rebuilds in auto mode, errors in clone mode.
  */
class FreshCloneSpec extends SparkSpec {

  private def docs = T(spark, sf, "documents")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("Bm25Index.fresh refuses a stale master: rebuild in auto, error in clone") {
    val master = Files.createTempDirectory("graft-fp-master").toString
    val d1 = Files.createTempDirectory("graft-fp-d1").toString
    val d2 = Files.createTempDirectory("graft-fp-d2").toString
    val d3 = Files.createTempDirectory("graft-fp-d3").toString
    val corpusA = docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "text")
    val corpusB = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text")

    // first call builds the master over A and clones — fingerprint rides
    Bm25Index.fresh(corpusA, master, d1)
    assert(Dedup.readSidecar(spark, s"$d1/corpusfp").isDefined,
      "the clone must carry the master's corpus fingerprint")
    assert(rows(Bm25Index.topDocs(spark, d1, 10, 2)) ==
      rows(Analysis.bm25TopDocs(corpusA, 10, 2)))

    // SAME master path, DIFFERENT corpus: geometry + version would
    // pass, but the fingerprint does not — auto mode rebuilds instead
    // of cloning stale state, and the probe scores corpus B exactly
    Bm25Index.fresh(corpusB, master, d2)
    assert(rows(Bm25Index.topDocs(spark, d2, 10, 2)) ==
      rows(Analysis.bm25TopDocs(corpusB, 10, 2)))

    // clone mode with a mismatched corpus fails loudly (master is now
    // over B; ask for A)
    spark.conf.set("spark.graft.lsh.setupPath", "clone")
    try {
      intercept[IllegalArgumentException] {
        Bm25Index.fresh(corpusA, master, d3)
      }
      // and succeeds for the corpus the master was actually built over
      Bm25Index.fresh(corpusB, master, d3)
      assert(rows(Bm25Index.topDocs(spark, d3, 10, 2)) ==
        rows(Analysis.bm25TopDocs(corpusB, 10, 2)))
    } finally spark.conf.unset("spark.graft.lsh.setupPath")
  }

  test("lshIndexFresh refuses a stale master the same way") {
    val master = Files.createTempDirectory("graft-fplsh-master").toString
    val d1 = Files.createTempDirectory("graft-fplsh-d1").toString
    val d2 = Files.createTempDirectory("graft-fplsh-d2").toString
    val d3 = Files.createTempDirectory("graft-fplsh-d3").toString
    val base = Dedup.incrLoopBase(docs)
    val other = Dedup.incrLoopBatch(docs, 1)
      .unionByName(Dedup.incrLoopBase(docs))

    Dedup.lshIndexFresh(base, master, d1)
    assert(Dedup.readSidecar(spark, s"$master/corpusfp").isDefined)
    val probeVsBase = rows(Dedup.dedupBatchVsIndex(
      Dedup.incrLoopBatch(docs, 1), d1, 0.5))

    // different corpus, same master path: auto rebuilds the master —
    // the probe must see `other`'s extra docs, not a stale clone of
    // `base` (batch-1 docs are IN `other`, so they match themselves
    // as corpus dups instead of being kept)
    Dedup.lshIndexFresh(other, master, d2)
    val probeVsOther = rows(Dedup.dedupBatchVsIndex(
      Dedup.incrLoopBatch(docs, 1), d2, 0.5))
    assert(probeVsOther != probeVsBase,
      "a rebuilt (non-stale) master must change the probe's decisions")

    spark.conf.set("spark.graft.lsh.setupPath", "clone")
    try {
      intercept[IllegalArgumentException] {
        Dedup.lshIndexFresh(base, master, d3)
      }
    } finally spark.conf.unset("spark.graft.lsh.setupPath")
  }

  test("the content fingerprint does NOT cancel on duplicate rows") {
    // round-18 advisor: count + bit_xor alone fingerprints ANY corpus
    // whose distinct rows each occur an even number of times to "n:0"
    // — and dup-heavy corpora are this framework's input. The decimal
    // hash SUM added alongside must separate two such corpora.
    import spark.implicits._
    val evenDupsA = Seq("a", "a", "b", "b").toDF("text")
    val evenDupsB = Seq("c", "c", "d", "d").toDF("text")
    val fpA = Dedup.corpusFingerprint(evenDupsA)
    val fpB = Dedup.corpusFingerprint(evenDupsB)
    assert(fpA.split(":")(1) == "0" && fpB.split(":")(1) == "0",
      s"fixture must actually cancel the xor component: $fpA / $fpB")
    assert(fpA != fpB,
      "equal-count even-multiplicity corpora must fingerprint apart")
    // and the fingerprint is order-independent, as the sidecar
    // comparison requires
    assert(Dedup.corpusFingerprint(
      Seq("b", "a", "b", "a").toDF("text")) == fpA)
  }

  test("a manifest-table corpus validates the master with ZERO extra jobs") {
    // round-18 verdict #2: corpusFingerprint is an O(corpus) scan per
    // fresh() — the very scan the clone path exists to avoid. For a
    // corpus that IS a committed manifest table, (dir, version)
    // identifies the content; passing Manifest.snapshotIdentity as the
    // corpusId makes the stale-master guard METADATA-ONLY.
    val tdir = Files.createTempDirectory("graft-fpmf-corpus").toString
    val master = Files.createTempDirectory("graft-fpmf-master").toString
    docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
      .write.mode("overwrite").parquet(tdir)
    Manifest.write(spark, tdir, Manifest.scanStats(spark, tdir, Nil), 1)
    val corpus = Manifest.readTable(spark, tdir).select("doc_id", "text")
    val id = Manifest.snapshotIdentity(spark, tdir)
    assert(id.isDefined && id.get.startsWith("mf:"))

    def jobsDuring(f: => Unit): Int = metered(f)._2.jobs.size

    // first call builds the master (jobs expected), recording the id
    Bm25Index.fresh(corpus, master, Files
      .createTempDirectory("graft-fpmf-d0").toString, corpusId = id)
    assert(Dedup.readSidecar(spark, s"$master/corpusfp") == id)

    // the GUARD itself must add zero jobs on top of the bare clone
    val cloneJobs = jobsDuring {
      Bm25Index.cloneIndex(spark, master,
        Files.createTempDirectory("graft-fpmf-d1").toString)
    }
    val freshJobs = jobsDuring {
      Bm25Index.fresh(corpus, master,
        Files.createTempDirectory("graft-fpmf-d2").toString,
        corpusId = id)
    }
    assert(freshJobs == cloneJobs,
      s"snapshot-identity validation must be metadata-only: " +
        s"fresh ran $freshJobs jobs vs bare clone $cloneJobs")
    // while the content-scan form pays extra jobs for the same answer
    val scanJobs = jobsDuring {
      Bm25Index.fresh(corpus, master,
        Files.createTempDirectory("graft-fpmf-d3").toString)
    }
    assert(scanJobs > cloneJobs,
      "without the identity the guard must fall back to the scan")

    // STALE VERSION REFUSED: commit a new corpus snapshot — the
    // identity moves, the master no longer matches it
    Layout.appendInPlace(spark, tdir,
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")): Unit
    val id2 = Manifest.snapshotIdentity(spark, tdir)
    assert(id2 != id, "a new snapshot must mint a new identity")
    spark.conf.set("spark.graft.lsh.setupPath", "clone")
    try intercept[IllegalArgumentException] {
      Bm25Index.fresh(Manifest.readTable(spark, tdir)
        .select("doc_id", "text"), master,
        Files.createTempDirectory("graft-fpmf-d4").toString,
        corpusId = id2)
    } finally spark.conf.unset("spark.graft.lsh.setupPath")
  }
}
