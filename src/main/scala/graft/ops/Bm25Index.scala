package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 retrieval index (round-16 verdict #3).
  *
  * [[Analysis.bm25TopDocs]] / [[Analysis.bm25Query]] recompute
  * tf/df/dl from the corpus on every call — O(corpus) per query.
  * Retrieval-style decontamination over a standing corpus wants the
  * inverted statistics persisted once and incrementally appended per
  * ingest batch, exactly like the LSH band index
  * ([[Dedup.lshIndexBuild]]): df and dl merge ADDITIVELY across
  * batches (each doc belongs to exactly one batch, so per-batch df
  * partials sum to the corpus df), while idf and avgdl — the only
  * non-additive quantities — are derived at query time from the
  * summed partials. A probe then costs O(postings-of-query-terms +
  * vocabulary), never a corpus re-tokenize.
  *
  * ONE manifest-committed table (`dir/index`) holds its row kinds
  * under the Hive partition column `kind`, so each probe phase reads
  * only its own kind's files; inside each file rows are sorted by
  * `bucket = pmod(xxhash64(token), Buckets)`, the table's cluster key
  * ([[Layout.ClusterMetaKey]]), whose range every manifest entry
  * records:
  *
  *   - `kind=post`: (token, doc_id, tf, dl) — the postings, with the
  *     document length DENORMALIZED into each posting row so scoring
  *     never joins a doc-length table; a probe for a term set reads
  *     only the files whose bucket range meets the buckets those
  *     terms hash to.
  *   - `kind=df`: (token, df-partial) — one row per (commit, token);
  *     the corpus df is the per-token SUM.
  *   - `kind=stat`: one row per commit carrying (n_docs-partial,
  *     sum_dl-partial); n_docs counts ALL batch docs (a zero-token
  *     doc still belongs to the collection avgdl averages over —
  *     same contract as [[Analysis.bm25Frames]]).
  *   - `kind=del` / `kind=ret`: pending and retired tombstones
  *     ([[delete]], [[flushDeletes]]).
  *
  * A commit adds at most one file per kind: the clustered write
  * coalesces a batch's rows into one sorted file per directory.
  *
  * A single table means a single manifest: every append is ONE
  * atomic snapshot commit covering postings + df + stats together
  * (no cross-table torn state), probes pin one version for
  * consistent reads under concurrent maintenance, compaction is
  * [[Layout.compactInPlace]]'s metadata swap, and vacuum reclaims
  * superseded files. A geometry sidecar (bucket count, tokenizer,
  * layout) hard-gates every read/write, as the LSH index learned in
  * round 15: probing under a different bucket geometry silently reads
  * the wrong files.
  *
  * Exactness vs the full-recompute oracle: tf/df/dl/n_docs/sum_dl
  * are exact long sums in any batch split, avgdl is one double
  * division of those longs, and the score expression is
  * [[Analysis.bm25Contrib]] literal for literal — so index-probe
  * results are BIT-EQUAL to [[Analysis.bm25TopDocs]] /
  * [[Analysis.bm25Query]] and share their DuckDB oracles.
  */
object Bm25Index {

  /** Hash-bucket count of the cluster key. Buckets are a sort and
    * pruning key, not directories, so the count costs no files; at
    * 100 TB it would be sized so a bucket's postings fit a task (the
    * geometry sidecar makes the parameter a hard compatibility gate,
    * not a tunable).
    */
  val Buckets = 64

  def indexGeometry: String = s"buckets=$Buckets tok=space cluster v2"

  /** Snapshot-counter keys ([[Manifest.metaOf]], round-17 verdict #3):
    * exact live-doc and pending-tombstone counts folded into every
    * commit by the verbs that know their deltas, so the auto-flush
    * ratio check and the tombstone broadcast gates read DRIVER-SIDE
    * metadata — zero Spark jobs per maintenance decision. Version-
    * pinned probes read the counters AS OF their version (the file
    * lives in the snapshot dir, like the schema record). Every index
    * carries them from its v1 ([[build]], [[init]]; clones copy them).
    */
  private val LiveKey = "live_docs"
  private val DelKey = "pending_dels"

  /** Retired-tombstone counter (round-18 verdict #3): total ids ever
    * moved del→ret by [[flushDeletes]]. Sizes and VALIDATES the ret
    * bloom sidecar — the bloom is only trusted while its stamp equals
    * this counter, so a crash between sidecar write and flush commit
    * degrades to the exact check instead of a wrong answer.
    */
  private val RetKey = "retired_docs"

  /** How [[newTombstones]] runs its already-retired check, whose exact
    * form is an anti-join against a `kind=ret` set that grows with
    * TOTAL deletes ever issued — in a keep-best replace workload,
    * eventually larger than the live index (round-18 verdict #3).
    *
    *   - `bloom` (default): probe the flush-maintained bloom sidecar
    *     first — O(batch), no ret I/O. Only ids the bloom flags (true
    *     retirees being re-deleted, or ~1e-5 false positives) pay the
    *     exact anti-join, so in the steady state (unique id mint) a
    *     delete NEVER scans the ret partition. Bit-exact: blooms have
    *     no false negatives, and every positive is re-checked exactly.
    *     Falls back to `exact` when no valid sidecar exists.
    *   - `exact`: the anti-join every time (pre-round-19 behavior).
    *   - `off`: skip the ret check — for pipelines that ENFORCE the
    *     unique-id mint upstream; a violated contract then skews
    *     n_docs/avgdl exactly as documented on [[delete]].
    */
  private[graft] val RetCheckConf = "spark.graft.bm25.retCheck"

  /** ~24 bits/id ≈ 1e-5 false-positive rate: a 10k-doc delete batch
    * then has a ~10% chance of even ONE bloom hit (one bounded exact
    * re-check), while the sidecar stays ~3 MB per million retirees.
    */
  private val RetBloomBitsPerId = 24L

  /** Broadcast gate (rows) for the tombstone anti-join sets — the
    * probe-side subtraction ([[postingsFor]]) and the flush's postings
    * rewrite broadcast the del set bounded only by the auto-flush
    * RATIO, which at a 100 TB corpus is an unbounded absolute row
    * count (round-17 verdict #2). An 8-byte id row means the default
    * 4M rows is a ~32 MB broadcast ([[Manifest.MarkBroadcastRows]], the
    * bound the deletion-vector subtraction shares); past it both paths
    * fall back to a plain shuffled anti-join, results bit-identical.
    * Override: `spark.graft.bm25.delBroadcastRows`.
    */
  val DelBroadcastRows: Long = Manifest.MarkBroadcastRows

  private def delBroadcastGate(spark: SparkSession): Long =
    spark.conf.get("spark.graft.bm25.delBroadcastRows",
      DelBroadcastRows.toString).toLong

  /** Pending-tombstone count of the pinned-or-current snapshot from
    * the counter record.
    */
  private def pendingDels(spark: SparkSession, dir: String,
      version: Option[Int]): Long =
    version.orElse(Manifest.currentVersion(spark, s"$dir/index"))
      .map(Manifest.metaOf(spark, s"$dir/index", _))
      .getOrElse(Map.empty[String, Long]).getOrElse(DelKey,
        throw new IllegalStateException(
          s"$dir/index has no $DelKey counter — not an index this " +
            "engine built"))

  /** The gated tombstone subtraction shared by the probe scan and the
    * flush rewrite: skip the join outright when the counters prove
    * zero tombstones, broadcast under the gate, shuffle past it.
    */
  private def minusDels(t: DataFrame, base: DataFrame,
      nDel: Long): DataFrame = {
    val dels = t.filter(col("kind") === "del").select("doc_id")
    if (nDel == 0L) base
    else if (nDel <= delBroadcastGate(t.sparkSession))
      base.join(broadcast(dels), Seq("doc_id"), "left_anti")
    else base.join(dels, Seq("doc_id"), "left_anti")
  }

  /** Physical schema; `kind` carries the partition-column marker and
    * `bucket` the cluster-key marker, so an append against an empty
    * index still writes the layout (same pattern as
    * [[Dedup.lshIndexBuild]]).
    */
  val IndexSchema: String =
    "token STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, " +
      "kind STRING, bucket INT"

  private def indexStruct: org.apache.spark.sql.types.StructType =
    Layout.markColumns(IndexSchema, "kind" -> Layout.PartitionMetaKey,
      "bucket" -> Layout.ClusterMetaKey)

  private def bucketOf(token: org.apache.spark.sql.Column) =
    pmod(xxhash64(token), lit(Buckets.toLong)).cast("int")

  private def requireGeometry(spark: SparkSession, dir: String): Unit = {
    val tag = Dedup.readSidecar(spark, s"$dir/geometry").getOrElse(
      sys.error(s"$dir has no geometry sidecar — not a graft BM25 index"))
    require(tag == indexGeometry,
      s"index at $dir has geometry '$tag' but this engine writes " +
        s"'$indexGeometry' — rebuild the index, do not mix geometries")
  }

  /** One batch's postings, and its df and stat contributions for
    * [[folded]]. The postings are ONE exchange that derives tf AND dl
    * with map-side partials and no skew (round 20): dl — the doc's
    * token count — is the SIZE of the split array, computable per
    * input row before the explode, so it rides the aggregation as a
    * group key (functionally dependent on doc_id); the exchange hashes
    * (doc_id, token, dl), so a single giant document spreads across
    * partitions, and carries exactly the distinct (doc_id, token)
    * pairs. The contributions need no pass over the postings: each
    * doc's DISTINCT tokens count +1 toward their df, and the doc
    * itself +1 doc and +dl toward the stat row (n_docs counts ALL
    * batch docs; a null text adds a doc of no tokens).
    */
  private def batchParts(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val post = toks
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("token"))
      .groupBy("doc_id", "token", "dl").agg(count(lit(1)).as("tf"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"),
        lit("post").as("kind"), bucketOf(col("token")).as("bucket"))
    val df = toks.select(lit("df").as("kind"),
      explode(array_distinct(col("toks"))).as("token"), lit(1L).as("n"),
      lit(0L).as("d"))
    val stat = toks.select(lit("stat").as("kind"), lit("").as("token"),
      lit(1L).as("n"), coalesce(size(col("toks")).cast("long"), lit(0L))
        .as("d"))
    (post, df.unionByName(stat))
  }

  /** The df and stat rows of one commit: its contributions
    * (`kind`, `token`, `n`, `d`) summed per (kind, token) in ONE
    * exchange — the corpus df and stat are exact long sums of these
    * partials in any split, so a replace's negative contributions fold
    * into the batch's positive ones, and a df partial that nets to
    * zero is dropped.
    */
  private def folded(contribs: DataFrame): DataFrame =
    contribs.groupBy("kind", "token")
      .agg(sum("n").as("tf"), sum("d").as("dl"))
      .filter(col("kind") === "stat" || col("tf") =!= 0L)
      .select(col("token"), lit(-1L).as("doc_id"), col("tf"), col("dl"),
        col("kind"), when(col("kind") === "df", bucketOf(col("token")))
          .otherwise(lit(0)).as("bucket"))

  /** Build the index over a standing corpus: O(corpus) once — one
    * tokenize pass, one range-partitioned write whose files cover
    * disjoint bucket ranges within each kind — then a v1 manifest
    * snapshot of the writer's entries, so every later append/compact
    * is a versioned commit and probes read the committed file list.
    * An empty corpus commits an empty entry list under the declared
    * schema (bootstrap ingest: the first append still clusters).
    */
  def build(corpus: DataFrame, dir: String,
      corpusId: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val table = s"$dir/index"
    val (post, contribs) = batchParts(corpus)
    val entries = Layout.writeClustered(spark, table,
      post.unionByName(folded(contribs)), Seq("kind"), "bucket")
    Dedup.writeSidecar(spark, s"$dir/geometry", indexGeometry)
    // record the built-over corpus for [[fresh]]'s stale-master guard:
    // the caller-supplied snapshot identity (zero-job), else the
    // content fingerprint, whose count doubles as the live-doc
    // counter seed (one agg pass serves both)
    val (fp, nDocs) = corpusId match {
      case Some(id) => (id, corpus.count())
      case None =>
        val f = Dedup.corpusFingerprint(corpus)
        (f, f.split(":")(0).toLong)
    }
    Dedup.writeSidecar(spark, s"$dir/corpusfp", fp)
    Manifest.write(spark, table, entries, 1, schema = Some(indexStruct),
      meta = Some(Map(LiveKey -> nDocs, DelKey -> 0L, RetKey -> 0L)))
  }

  /** Bootstrap an EMPTY committed index (first day of ingest) without
    * a write job: geometry sidecar + v1 empty-entry manifest under
    * the declared schema. Appends land their own stat rows, so the
    * derived statistics stay exact.
    */
  def init(spark: SparkSession, dir: String): Unit = {
    Dedup.writeSidecar(spark, s"$dir/geometry", indexGeometry)
    Manifest.write(spark, s"$dir/index", Seq.empty, 1,
      schema = Some(indexStruct),
      meta = Some(Map(LiveKey -> 0L, DelKey -> 0L, RetKey -> 0L)))
  }

  /** Append one ingest batch's statistics: O(batch) — the batch's
    * postings/df/stat rows land as staged files renamed in, then ONE
    * snapshot commit makes all three kinds visible atomically. df/dl
    * merge additively because a doc belongs to exactly one batch;
    * appending the SAME docs twice would double their df/tf, so the
    * caller dedups first (that is [[Pipeline.corpusBuildIncr]]'s
    * job, not this layer's).
    */
  def append(batch: DataFrame, dir: String,
      txnApp: Option[(String, Long)] = None): Unit = {
    val spark = batch.sparkSession
    requireGeometry(spark, dir)
    // app-scoped exactly-once for ingest-loop restarts — checked
    // BEFORE the tokenize/stat jobs run, not just at the commit
    if (txnApp.exists { case (a, n) =>
        Manifest.lastTxnFor(spark, s"$dir/index", a).exists(_ >= n) })
      return
    val (post, contribs) = batchParts(batch)
    val (observed, obs) = observeCounts(post.unionByName(folded(contribs)))
    Layout.appendInPlace(spark, s"$dir/index", observed, txnApp = txnApp,
      metaDelta = counterDelta(observedCount(obs, "d_live"), 0L)): Unit
    // same auto-compaction cadence as the LSH index's appends
    // ([[Dedup.AutoCompactFilesPerDir]]): past the per-directory file
    // budget the append folds the table itself, a metadata-swap commit
    val thresh = Dedup.autoCompactThreshold(spark)
    if (thresh > 0 && Layout.maxFilesPerDir(spark, s"$dir/index") > thresh)
      compact(spark, dir): Unit
  }

  /** Committed snapshot version — pin a probe to it for consistent
    * reads while maintenance commits land concurrently.
    */
  def version(spark: SparkSession, dir: String): Option[Int] =
    Manifest.currentVersion(spark, s"$dir/index")

  /** Independent byte-for-byte copy of a committed index (the
    * [[Dedup.lshIndexClone]] sibling): mutation-bearing consumers
    * work on a clone while the master stays read-only.
    */
  def cloneIndex(spark: SparkSession, srcDir: String,
      dstDir: String): Unit = {
    requireGeometry(spark, srcDir)
    Layout.cloneTable(spark, s"$srcDir/index", s"$dstDir/index"): Unit
    Dedup.writeSidecar(spark, s"$dstDir/geometry", indexGeometry)
    Dedup.readSidecar(spark, s"$srcDir/corpusfp").foreach(fp =>
      Dedup.writeSidecar(spark, s"$dstDir/corpusfp", fp))
    // carry the ret bloom (binary + stamp) so the clone's deletes keep
    // the O(batch) already-check; a missing pair just means exact
    val src = new org.apache.hadoop.fs.Path(s"$srcDir/retbloom.bin")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(src)) {
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
        new org.apache.hadoop.fs.Path(s"$dstDir/retbloom.bin"),
        false, true, spark.sparkContext.hadoopConfiguration): Unit
      Dedup.readSidecar(spark, s"$srcDir/retbloom.n").foreach(n =>
        Dedup.writeSidecar(spark, s"$dstDir/retbloom.n", n))
    }
  }

  /** Fresh MUTABLE index over `corpus` at `dir` via a build-once
    * master — same measured auto-select as [[Dedup.lshIndexFresh]]
    * (clone beats rebuild at every SF; PLANS.md round 17), same
    * `spark.graft.lsh.setupPath` pin, bit-identical either way.
    */
  def fresh(corpus: DataFrame, masterDir: String, dir: String,
      corpusId: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val mode = spark.conf.get("spark.graft.lsh.setupPath", "auto")
    require(Seq("auto", "rebuild", "clone").contains(mode),
      s"spark.graft.lsh.setupPath must be auto|rebuild|clone, got '$mode'")
    if (mode == "rebuild") { build(corpus, dir, corpusId); return }
    // stale-master guard (round-17 advisor): the master must carry the
    // corpus fingerprint of THIS corpus, not just valid geometry —
    // same contract as [[Dedup.lshIndexFresh]]. A manifest-table
    // corpus's [[Manifest.snapshotIdentity]] stands in for the content
    // scan — zero Spark jobs (round-18 verdict #2)
    val fp = corpusId.getOrElse(Dedup.corpusFingerprint(corpus))
    val masterOk =
      Dedup.readSidecar(spark, s"$masterDir/geometry")
        .contains(indexGeometry) &&
        Manifest.currentVersion(spark, s"$masterDir/index").isDefined &&
        Dedup.readSidecar(spark, s"$masterDir/corpusfp").contains(fp)
    if (!masterOk) {
      require(mode != "clone",
        s"setupPath=clone but no committed master over this corpus " +
          s"(fingerprint $fp) at $masterDir")
      build(corpus, masterDir, corpusId)
    }
    cloneIndex(spark, masterDir, dir)
  }

  /** This commit's counter DELTAS, folded against the claim-time base
    * inside the commit itself ([[Manifest]] commitStage) — NOT a
    * caller-side read-modify-write. Round-18 advisor: the old form
    * read the base meta at planning time but the commit claimed
    * whatever version was current at claim time, so a concurrent
    * commit landing in between had its counter update silently lost
    * (and drifted pending_dels feeds the zero-tombstone fast paths).
    * `dLive` is by-name: the append verbs derive it from an
    * [[org.apache.spark.sql.Observation]] over the rows being written,
    * which only resolves after the staged-write job has run.
    */
  private def counterDelta(dLive: => Long, dDel: => Long,
      dRet: Long = 0L): () => Option[Map[String, Long]] =
    () => Some(Map(LiveKey -> dLive, DelKey -> dDel, RetKey -> dRet))

  /** Observe the commit's counter deltas ON THE ROWS BEING WRITTEN —
    * the `kind=stat` partial's `tf` column is exactly the batch's
    * n_docs minus the displaced docs on the replace path (`d_live`),
    * and the `kind=del` rows are the newly tombstoned ids (`n_del`) —
    * so the staged-write job itself yields both deltas and the commit
    * costs no separate count job (round-18 verdict #4).
    */
  private def observeCounts(rows: DataFrame)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation(
      s"bm25-counts-${java.util.UUID.randomUUID()}")
    (rows.observe(obs,
      coalesce(sum(when(col("kind") === "stat", col("tf"))), lit(0L))
        .as("d_live"),
      count(when(col("kind") === "del", lit(1))).as("n_del")), obs)
  }

  /** Bounded wait on an observed metric — the staged write has
    * already run by the time the commit evaluates its delta, so the
    * row is normally present immediately; if the metric never fires
    * (a broken lineage would drop the CollectMetrics node) fail
    * LOUDLY rather than block the commit forever or record a wrong
    * counter.
    */
  private def observedCount(obs: org.apache.spark.sql.Observation,
      name: String): Long =
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(30, "s"))
      row.getAs[Any](name) match {
        case n: Number => n.longValue()
        case _ => throw new IllegalStateException(
          s"BM25 commit: the $name observation yielded no number")
      }
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"BM25 commit: the $name observation never fired for the " +
            "staged write — counter delta unavailable")
    }

  /** UN-INDEX documents (round-16 verdict #2 — the delete path the
    * LSH sibling has and this index lacked): ONE atomic append commit
    * carrying, for the doomed ids,
    *
    *   - `kind=del` TOMBSTONES (one row per doomed doc_id) — probes
    *     subtract tombstoned docs from the postings scan with a
    *     broadcast anti-join, so a deleted doc is never scored;
    *   - NEGATIVE `kind=df` partials, one per (token, bucket) the
    *     doomed docs contributed — the additive df merge stays exact
    *     (long sums), so idf over the post-delete corpus needs no
    *     special casing;
    *   - one NEGATIVE `kind=stat` partial (-n_docs, -sum_dl).
    *
    * Because all three land in the SAME snapshot commit, there is no
    * window where postings are dead but df still counts them (or the
    * reverse) — a probe pinned to any version scores a CONSISTENT
    * corpus. The corrections are computed from the index's OWN
    * postings (the standing record of the doomed docs' statistics),
    * so the caller needs only ids — the deleted docs' text can be
    * long gone. Already-tombstoned ids are skipped (double-delete is
    * a no-op), and the scan cost is one postings pass — a maintenance
    * verb, not a probe. Already-deleted ids are skipped even across a
    * [[flushDeletes]] boundary (the flush retires tombstones to a
    * maintenance-side `kind=ret` record rather than forgetting them),
    * so double-delete is a no-op FOREVER, not just until the next
    * flush. Contract: doomed ids must be PREVIOUSLY
    * APPENDED docs, and a deleted id must never be re-appended (the
    * tombstone would mask the new rows; ingest pipelines mint unique
    * ids). Physical reclamation + tombstone retirement is
    * [[flushDeletes]]; past `spark.graft.bm25.autoFlushRatio`
    * (default 0.10, 0 disables) of the corpus tombstoned, this verb
    * flushes immediately — the DV auto-flush policy, so sustained
    * delete workloads keep the probe-side anti-join set bounded.
    * Returns newly tombstoned doc count.
    */
  def delete(doomedIds: DataFrame, dir: String): Long = {
    val spark = doomedIds.sparkSession
    requireGeometry(spark, dir)
    val t = Manifest.readTable(spark, s"$dir/index")
    // a double delete commits nothing, so the count comes first
    val doomed = Dedup.iterCheckpoint(newTombstones(spark, dir, t,
      doomedIds))
    val n = doomed.count()
    if (n == 0L) return 0L
    val (tombs, contribs) = deleteParts(t, doomed)
    Layout.appendInPlace(spark, s"$dir/index",
      tombs.unionByName(folded(contribs)),
      metaDelta = counterDelta(-n, n)): Unit
    maybeAutoFlush(spark, dir)
    n
  }

  /** [[delete]] + [[append]] as ONE atomic commit — the per-batch
    * "replace" shape of a keep-best ingest loop: the displaced docs'
    * tombstones + negative corrections AND the incoming batch's
    * postings/df/stat rows land in a single snapshot, halving the
    * loop's commit count with the same no-torn-scores guarantee.
    * `batch` and `doomedIds` must be disjoint (a replacement batch
    * doc carries its own fresh id).
    */
  private[ops] def deleteAndAppend(doomedIds: DataFrame, batch: DataFrame,
      dir: String, txnApp: Option[(String, Long)] = None): Unit = {
    val spark = batch.sparkSession
    requireGeometry(spark, dir)
    // app-scoped exactly-once: a replayed replace (ingest-loop restart
    // after a crash downstream of this commit) no-ops BEFORE the
    // delete-derivation jobs run, not just at the commit
    if (txnApp.exists { case (a, n) =>
        Manifest.lastTxnFor(spark, s"$dir/index", a).exists(_ >= n) })
      return
    val t = Manifest.readTable(spark, s"$dir/index")
    val (tombs, delContribs) =
      deleteParts(t, newTombstones(spark, dir, t, doomedIds))
    val (post, contribs) = batchParts(batch)
    // one write: the folded stat partial sums to batch_n - n (dLive)
    // and the tombstone rows count n — both observed during it
    val (observed, obs) = observeCounts(post.unionByName(tombs)
      .unionByName(folded(contribs.unionByName(delContribs))))
    Layout.appendInPlace(spark, s"$dir/index", observed, txnApp = txnApp,
      metaDelta = counterDelta(observedCount(obs, "d_live"),
        observedCount(obs, "n_del"))): Unit
    maybeAutoFlush(spark, dir)
    val thresh = Dedup.autoCompactThreshold(spark)
    if (thresh > 0 && Layout.maxFilesPerDir(spark, s"$dir/index") > thresh)
      compact(spark, dir): Unit
  }

  /** The ret bloom sidecar pair: `retbloom.bin` (the serialized
    * filter) stamped by `retbloom.n` (the retired count it covers).
    * Written by [[flushDeletes]] BEFORE its commit, trusted by
    * [[loadRetBloom]] only while the stamp equals the snapshot's
    * [[RetKey]] counter — any torn write/commit interleaving degrades
    * to the exact check, never to a false negative.
    */
  private def writeRetBloom(spark: SparkSession, dir: String,
      retired: DataFrame, nRet: Long): Unit = {
    val maxBits = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
      "67108864").toLong
    val bits = math.min(math.max(nRet, 1L) * RetBloomBitsPerId, maxBits)
    val bin = retired
      .agg(org.apache.spark.sql.graftShims.bloomFilterAgg(
        col("doc_id"), math.max(nRet, 1L), bits))
      .head().getAs[Array[Byte]](0)
    val p = new org.apache.hadoop.fs.Path(s"$dir/retbloom.bin")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bin) finally out.close()
    // the stamp lands LAST: a crash in between leaves an unstamped
    // (untrusted) bloom
    Dedup.writeSidecar(spark, s"$dir/retbloom.n", nRet.toString)
  }

  private def loadRetBloom(spark: SparkSession,
      dir: String): Option[Array[Byte]] = {
    val stamp = Dedup.readSidecar(spark, s"$dir/retbloom.n")
      .flatMap(_.trim.toLongOption)
    val tracked = Manifest.currentMeta(spark, s"$dir/index").get(RetKey)
    if (stamp.isEmpty || stamp != tracked) return None
    val p = new org.apache.hadoop.fs.Path(s"$dir/retbloom.bin")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try { in.readFully(buf); Some(buf) } finally in.close()
  }

  /** The ids of `doomedIds` a delete against snapshot read `t` newly
    * tombstones — lazy, never counted here: the caller's write counts
    * them ([[observeCounts]]). Shared by [[delete]] and
    * [[deleteAndAppend]].
    *
    * "Already deleted" spans BOTH pending tombstones (kind=del, flush-
    * bounded — always an exact anti-join) and RETIRED ones (kind=ret,
    * written by [[flushDeletes]]) — without the retired record,
    * re-deleting an id after a flush would find no tombstone,
    * decrement n_docs for a doc with no postings, and permanently skew
    * idf/avgdl (round-17 advisor). The no-op guarantee for
    * double-delete holds across flush boundaries. The ret check runs
    * per [[RetCheckConf]]: under `bloom` the steady-state delete costs
    * O(batch) with ZERO ret-partition I/O, instead of an anti-join
    * whose far side grows with total churn. A snapshot whose counters
    * record no pending and no retired tombstone skips the anti-join.
    */
  private def newTombstones(spark: SparkSession, dir: String, t: DataFrame,
      doomedIds: DataFrame): DataFrame = {
    val doomed0 = doomedIds
      .select(col("doc_id").cast("bigint").as("doc_id")).distinct()
    val rets = t.filter(col("kind") === "ret").select("doc_id")
    val mode = spark.conf.get(RetCheckConf, "bloom")
    require(Seq("bloom", "exact", "off").contains(mode),
      s"$RetCheckConf must be bloom|exact|off, got '$mode'")
    val meta = Manifest.currentMeta(spark, s"$dir/index")
    val anyRet = meta.getOrElse(RetKey, 1L) > 0L
    val notRetired = mode match {
      case "bloom" if anyRet =>
        loadRetBloom(spark, dir) match {
          case Some(bin) =>
            // pin the doomed ids FIRST (round-19 advisor): the nMaybe
            // count below and the caller's write are two separate
            // evaluations of this frame, so a caller passing a
            // NONDETERMINISTIC doomedIds could have ids unseen by the
            // count skip the exact ret re-check — re-deleting a
            // retired doc and permanently skewing n_docs/avgdl. One
            // O(batch) ids-only materialization buys determinism for
            // the public delete/deleteAndAppend API; the bloom column
            // itself stays a cheap inline expression.
            val pinned = Dedup.iterCheckpoint(doomed0)
            val flagged = pinned.withColumn("_rb",
              org.apache.spark.sql.graftShims.bloomMightContain(
                bin, col("doc_id")))
            val nMaybe = flagged.filter(col("_rb")).count()
            val sure = flagged.filter(!col("_rb")).drop("_rb")
            // only bloom POSITIVES pay the exact re-check; a clean
            // batch (the steady state) never touches the ret partition
            if (nMaybe == 0L) sure
            else sure.unionByName(flagged.filter(col("_rb")).drop("_rb")
              .join(rets, Seq("doc_id"), "left_anti"))
          case None =>
            // no trusted bloom: one anti-join against del ∪ ret below
            // (round 19 — the separate ret and del anti-joins excluded
            // the identical union, one exchange pair each)
            doomed0
        }
      case _ => doomed0
    }
    // exclusion set: pending tombstones, plus the retired record when
    // the bloom path did not already clear it exactly
    val dels = t.filter(col("kind") === "del").select("doc_id")
    val withRets = anyRet && mode != "off" && (notRetired eq doomed0)
    val excl = (if (meta.getOrElse(DelKey, 1L) > 0L) Seq(dels) else Nil) ++
      (if (withRets) Seq(rets) else Nil)
    excl.reduceOption(_ unionByName _)
      .fold(notRetired)(e => notRetired.join(e, Seq("doc_id"), "left_anti"))
  }

  /** A delete's rows against snapshot read `t`: one `kind=del`
    * tombstone per newly doomed id, and the df/stat contributions
    * that un-count the doomed docs for [[folded]] — computed from the
    * index's OWN postings (the standing record of their statistics),
    * so the caller needs only ids: each posting counts -1 toward its
    * token's df and -tf toward sum_dl (a doc's tf values sum to its
    * dl), each doomed id -1 toward n_docs.
    */
  private def deleteParts(t: DataFrame,
      doomed: DataFrame): (DataFrame, DataFrame) = {
    val victims = t.filter(col("kind") === "post")
      .join(broadcast(doomed), Seq("doc_id"), "left_semi")
    val tombs = doomed.select(lit("").as("token"), col("doc_id"),
      lit(0L).as("tf"), lit(0L).as("dl"), lit("del").as("kind"),
      lit(0).as("bucket"))
    val contribs = victims.select(lit("df").as("kind"), col("token"),
        lit(-1L).as("n"), lit(0L).as("d"))
      .unionByName(victims.select(lit("stat").as("kind"), lit("").as("token"),
        lit(0L).as("n"), (-col("tf")).as("d")))
      .unionByName(doomed.select(lit("stat").as("kind"), lit("").as("token"),
        lit(-1L).as("n"), lit(0L).as("d")))
    (tombs, contribs)
  }

  /** The DV auto-flush policy, BM25 form: past
    * `spark.graft.bm25.autoFlushRatio` (default 0.10, 0 disables) of
    * the live corpus tombstoned, flush immediately so the probe-side
    * anti-join set stays bounded under sustained deletes.
    *
    * METADATA-ONLY since round 18 (verdict #3): the live/tombstone
    * counts come from the snapshot's counter record ([[counterDelta]])
    * — the check after every delete costs zero Spark jobs.
    */
  private def maybeAutoFlush(spark: SparkSession, dir: String): Unit = {
    val flushRatio = spark.conf
      .getOption("spark.graft.bm25.autoFlushRatio")
      .map(_.toDouble).getOrElse(0.10)
    if (flushRatio > 0) {
      val live = Manifest.currentMeta(spark, s"$dir/index")
        .getOrElse(LiveKey, 0L)
      if (live > 0 && pendingDels(spark, dir, None) > flushRatio * live)
        flushDeletes(spark, dir): Unit
    }
  }

  /** Materialize accumulated tombstones: rewrite the index WITHOUT
    * the tombstoned docs' postings (the df/dl partials fold to their
    * exact net sums, zero-df tokens dropped) and RETIRE the `kind=del`
    * rows to `kind=ret` — the probe-side anti-join set goes back to
    * empty (probes only subtract kind=del), while the retired record
    * keeps [[delete]]'s double-delete no-op exact across flush
    * boundaries (round-17 advisor: without it, re-deleting a flushed
    * id decremented n_docs for a doc with no postings). The ret
    * partition is maintenance-side only — never read by a probe, only
    * by [[newTombstones]]' already-deleted check — and grows bounded by
    * TOTAL deletes ever issued, not corpus size.
    * O(index) rewrite, one atomic overwrite commit (crash leaves the
    * previous snapshot readable) — the maintenance-window half of
    * merge-on-read, exactly like [[Layout.flushDeleteVectors]]. Every
    * probe answer is unchanged. Returns tombstones retired.
    */
  def flushDeletes(spark: SparkSession, dir: String): Long = {
    requireGeometry(spark, dir)
    val table = s"$dir/index"
    val t = Manifest.readTable(spark, table)
    // tombstone count from the snapshot counters (no job); the
    // rewrite's anti-join is gated on the same number
    val nDel = pendingDels(spark, dir, None)
    if (nDel == 0L) return 0L
    val posts = minusDels(t, t.filter(col("kind") === "post"), nDel)
    val dfFold = t.filter(col("kind") === "df")
      .groupBy("token", "bucket").agg(sum("tf").as("tf"))
      .filter(col("tf") > 0)
      .select(col("token"), lit(-1L).as("doc_id"), col("tf"),
        lit(0L).as("dl"), lit("df").as("kind"), col("bucket"))
    val statFold = t.filter(col("kind") === "stat")
      .agg(coalesce(sum("tf"), lit(0L)).as("tf"),
        coalesce(sum("dl"), lit(0L)).as("dl"))
      .select(lit("").as("token"), lit(-1L).as("doc_id"),
        col("tf"), col("dl"), lit("stat").as("kind"),
        lit(0).as("bucket"))
    // pending tombstones retire; previously-retired ids carry forward
    val retired = t.filter(col("kind").isin("del", "ret"))
      .select(lit("").as("token"), col("doc_id"), lit(0L).as("tf"),
        lit(0L).as("dl"), lit("ret").as("kind"), lit(0).as("bucket"))
      .distinct()
    // refresh the ret bloom over the post-flush retired set, BEFORE
    // the commit (torn either way → stamp mismatch → exact fallback);
    // one extra agg pass inside a maintenance verb, and it is what
    // keeps the per-delete already-check off the ret partition
    val nRetTotal =
      Manifest.currentMeta(spark, table).getOrElse(RetKey, 0L) + nDel
    writeRetBloom(spark, dir, retired.select("doc_id"), nRetTotal)
    Layout.overwriteInPlace(spark, table,
      posts.unionByName(dfFold).unionByName(statFold).unionByName(retired),
      metaDelta = counterDelta(0L, -nDel, dRet = nDel))
    nDel
  }

  /** Merge the per-commit small files of each kind into files
    * range-partitioned on `bucket`: a pure metadata swap over the
    * index's manifest — no no-index window, crash leaves the previous
    * snapshot readable. Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    requireGeometry(spark, dir)
    Layout.compactInPlace(spark, s"$dir/index", targetBytes)
  }

  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2): Int =
    Manifest.vacuum(spark, s"$dir/index", keepVersions)

  /** Fold the accumulated per-append df/stat PARTIALS back to one row
    * per token (and one stat row): after N appends the vocab-sized df
    * partition holds N partial rows per hot token, and every probe's
    * term-pick pays an N-way sum. This is a DYNAMIC PARTITION
    * overwrite of only the `kind=df` and `kind=stat` partitions —
    * postings are untouched, the swap is one atomic snapshot commit
    * (crash leaves the previous version readable), and because the
    * folded rows are the exact long sums of the partials, every probe
    * answer is unchanged. Run with [[compact]] in the maintenance
    * window. Returns (filesReplaced, filesAdded).
    */
  def optimizeStats(spark: SparkSession, dir: String): (Int, Int) = {
    requireGeometry(spark, dir)
    val table = s"$dir/index"
    // WRITER-SIDE GUARD (round-16 advisor): this verb reads df/stat
    // partials and overwrites their partitions with the fold — an
    // append committing BETWEEN the read and the overwrite would have
    // its partials clobbered while its postings survive. Pin the read
    // to the current version and re-verify it is STILL current right
    // before the swap: a concurrent commit fails this verb loudly
    // (retry in the maintenance window) instead of silently skewing
    // every later score. Like [[compact]], maintenance verbs assume a
    // single-writer window; this check converts a violated assumption
    // into an error.
    val v = Manifest.currentVersion(spark, table).getOrElse(
      sys.error(s"$table has no manifest — not a committed BM25 index"))
    val t = Manifest.readTable(spark, table, Some(v))
    val dfFold = t.filter(col("kind") === "df")
      .groupBy("token", "bucket").agg(sum("tf").as("tf"))
      .filter(col("tf") =!= 0)
      .select(col("token"), lit(-1L).as("doc_id"), col("tf"),
        lit(0L).as("dl"), lit("df").as("kind"), col("bucket"))
    val statFold = t.filter(col("kind") === "stat")
      .agg(coalesce(sum("tf"), lit(0L)).as("tf"),
        coalesce(sum("dl"), lit(0L)).as("dl"))
      .select(lit("").as("token"), lit(-1L).as("doc_id"),
        col("tf"), col("dl"), lit("stat").as("kind"),
        lit(0).as("bucket"))
    // CAS at claim time (round-17 advisor): the pinned read version
    // rides INTO the commit as its expected base, so an append landing
    // at ANY point before the claim fails this verb loudly — the old
    // re-check-then-swap had a window between the check and the claim
    // where a commit could still slip in and have its partials
    // clobbered while its postings survived.
    Layout.overwritePartitionsInPlace(spark, table,
      dfFold.unionByName(statFold), expectedBase = Some(v))
  }

  private def readIndex(spark: SparkSession, dir: String,
      version: Option[Int]): DataFrame = {
    requireGeometry(spark, dir)
    Manifest.readTable(spark, s"$dir/index", version)
  }

  /** The query-time derived statistics: corpus df per token (exact
    * long sum of the per-batch partials, bucket carried along for
    * probe pruning) and the (n_docs, avgdl) broadcast row.
    */
  private def derivedStats(t: DataFrame): (DataFrame, DataFrame) = {
    // df > 0 drops fully-deleted tokens (net-zero partials after
    // [[delete]]'s negative corrections) so the term pick never
    // wastes a slot on a token with no live postings — term-for-term
    // what a from-scratch recompute over the live corpus would pick
    val dfAgg = t.filter(col("kind") === "df")
      .groupBy("token", "bucket").agg(sum("tf").as("df"))
      .filter(col("df") > 0)
    val stats = t.filter(col("kind") === "stat")
      .agg(sum("tf").as("n_docs"), sum("dl").as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    (dfAgg, stats)
  }

  /** The probe's postings scan for a driver-sized term list: only the
    * `kind=post` files whose recorded bucket range meets a bucket the
    * terms hash to ([[postingsFiles]]), with the bucket and term
    * IN-filters pushed into the parquet read (files are sorted by
    * bucket, so row groups prune too). Tombstoned docs ([[delete]])
    * subtract with a broadcast anti-join — the del set is
    * flush-bounded by the auto-flush ratio, never corpus-sized. The
    * collect feeding this is `nTerms` rows — a query parameter, not
    * data-sized.
    */
  private def postingsFor(t: DataFrame, posts: DataFrame,
      terms: Seq[String], buckets: Seq[Int], nDel: Long): DataFrame =
    minusDels(t,
      posts.filter(col("kind") === "post" &&
        col("bucket").isin(buckets: _*) &&
        col("token").isin(terms: _*)),
      nDel)

  /** The `kind=post` files of the pinned-or-current snapshot whose
    * recorded bucket range meets one of `buckets`.
    */
  private[ops] def postingsFiles(spark: SparkSession, dir: String,
      version: Option[Int], buckets: Seq[Int]): DataFrame =
    Manifest.readTableGated(spark, s"$dir/index", version,
      Manifest.MarkBroadcastRows, e => e.name.startsWith("kind=post/") &&
        Manifest.entryMeets("bucket", buckets.map(_.toLong).sorted.toArray)(e))

  /** [[Analysis.bm25TopDocs]] served from the index: same output,
    * same oracle ([[Analysis.bm25TopDocsOracle]]), but the corpus is
    * never re-tokenized — the probe reads the vocabulary-sized df
    * partition to pick the query terms, then only the pruned
    * postings buckets.
    */
  def topDocs(spark: SparkSession, dir: String, nTerms: Int = 20,
      k: Int = 3, version: Option[Int] = None): DataFrame = {
    val t = readIndex(spark, dir, version)
    val (dfAgg, stats) = derivedStats(t)
    val rows = dfAgg.orderBy(col("df").desc, col("token").asc)
      .limit(nTerms).collect()
    val terms = rows.map(r => (r.getString(0), r.getAs[Long]("df"))).toSeq
    val buckets = rows.map(_.getAs[Int]("bucket")).distinct.toSeq
    import spark.implicits._
    val qterms = terms.toDF("token", "df")
    val scored = postingsFor(t, postingsFiles(spark, dir, version, buckets),
        terms.map(_._1), buckets, pendingDels(spark, dir, version))
      .join(broadcast(qterms), "token")
      .crossJoin(broadcast(stats))
      .select(col("token"), col("doc_id"),
        round(Analysis.bm25Contrib, 6).as("score"))
    val top = graft.plans.TopKPerKey.topK(scored, Seq("token"),
      Seq(col("score").desc, col("doc_id").asc), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("token").orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rn", row_number().over(w))
      .select(col("token"), col("rn"), col("doc_id"), col("score"))
      .orderBy("token", "rn")
  }

  /** [[Analysis.bm25Query]] served from the index: multi-term query
    * scoring with the same micro-unit quantization (exact long sums),
    * same oracle ([[Analysis.bm25QueryOracle]]).
    */
  def query(spark: SparkSession, dir: String, nQueries: Int = 5,
      qTerms: Int = 3, k: Int = 3,
      version: Option[Int] = None): DataFrame = {
    val t = readIndex(spark, dir, version)
    val (dfAgg, stats) = derivedStats(t)
    val rows = dfAgg.orderBy(col("df").desc, col("token").asc)
      .limit(nQueries * qTerms).collect()
    val qmapLocal = rows.zipWithIndex.map { case (r, i) =>
      (i / qTerms + 1, r.getString(0), r.getAs[Long]("df"))
    }.toSeq
    val buckets = rows.map(_.getAs[Int]("bucket")).distinct.toSeq
    import spark.implicits._
    val qmap = qmapLocal.toDF("query_id", "token", "df")
    val perTerm = postingsFor(t, postingsFiles(spark, dir, version, buckets),
        qmapLocal.map(_._2), buckets, pendingDels(spark, dir, version))
      .join(broadcast(qmap), "token")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(Analysis.bm25Contrib * lit(1000000.0)).cast("long")
          .as("contrib"))
    val scored = perTerm.groupBy("query_id", "doc_id")
      .agg((sum("contrib") / lit(1000000.0)).as("score"),
        count(lit(1)).as("n_terms"))
    val top = graft.plans.TopKPerKey.topK(scored, Seq("query_id"),
      Seq(col("score").desc, col("doc_id").asc), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rn", row_number().over(w))
      .select(col("query_id"), col("rn"), col("doc_id"), col("score"),
        col("n_terms"))
      .orderBy("query_id", "rn")
  }
}
