package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** One tracked data file in a [[Manifest]]: path relative to the table
  * root, row/byte counts, and per-column min/max for the stat columns.
  * Integral columns record [[ColRange]] (BIGINT ranges); string
  * columns record [[ColRangeS]] — so URL/domain/date-string predicates
  * prune files exactly like numeric ones. `sstats` is optional for
  * wire-compat: snapshots written before string stats existed decode
  * with `None` and simply never prune on strings.
  */
case class ColRange(col: String, min: Long, max: Long)
case class ColRangeS(col: String, min: String, max: String)
case class ManifestEntry(name: String, rows: Long, bytes: Long,
    stats: Seq[ColRange], sstats: Option[Seq[ColRangeS]] = None)

/** A minimal versioned file manifest for the layout-managed tables
  * (Z-ordered copies, compacted trees, copy-on-write deletes).
  *
  * Why: parquet footer stats give per-file min/max too, but READING
  * them is O(#files) footer opens on every query — at 100 TB that is
  * tens of thousands of round trips before the first byte of data.
  * A manifest is the table-format answer (Iceberg/Delta-style, reduced
  * to its essence): ONE small metadata read yields the file list plus
  * per-column ranges, so planning prunes files without touching them,
  * and a delete/compact commit is a metadata swap, not a tree walk.
  *
  * Layout on disk, under `<table>/_manifest/`:
  *   - `v<K>/` — one snapshot: `_chunks.json` (the ordered list of
  *     chunk files holding its [[ManifestEntry]]s), `_schema.json`
  *     (the table schema AS OF that version — the add-column evolution
  *     record), `_meta.props` (owner-maintained counters, when set)
  *     and a `_SUCCESS` marker
  *   - `chunks/` — the immutable JSONL chunk files, shared by
  *     reference across the snapshots that carry them
  *   - `dv-v<K>/` — the version's deletion vector, when it has one:
  *     `file=<key>/` parquet parts of row positions per data file plus
  *     a `_COUNT` sidecar ([[dvDir]])
  *   - `CURRENT` — a one-line pointer file naming the live version
  *
  * Commit protocol (crash-safe AND race-safe):
  *   1. claim a lease token (`commit-v<K>`, create-exclusive) — a
  *      work-avoidance lock; a token older than its lease with no
  *      landed snapshot is a crashed writer's and may be taken over
  *   2. write the snapshot into a hidden staging dir
  *   3. RENAME the staging dir to `v<K>` — the atomic arbiter: exactly
  *      one writer's rename can succeed, so even if a slow writer's
  *      claim was taken over mid-job (the lease-expiry edge), at most
  *      one `v<K>` ever lands and the loser aborts with a conflict
  *      BEFORE touching the pointer — no lost update, ever
  *   4. atomically overwrite `CURRENT`
  * A crash between 3 and 4 leaves the previous version live; readers
  * never observe a partial manifest.
  *
  * Scale posture: building stats is ONE distributed pass
  * (`groupBy(input_file_name())` — map-side combined, no row leaves
  * its executor pre-agg); the collect is O(#files), the same bound as
  * any planner's file listing. Incremental commits (copy-on-write
  * delete) reuse carried files' entries verbatim — metadata-only, the
  * property that makes a 100 TB delete proportional to AFFECTED files.
  */
object Manifest {

  val DirName = "_manifest"
  val SchemaFile = "_schema.json"

  /** How long a claim token protects a live writer before a retrying
    * committer may treat it as crashed and take it over. Ten minutes
    * bounds wedge time after a real crash while making live takeover
    * (the double-claim window) require a pathologically slow snapshot
    * write — and even then the rename arbiter prevents a double
    * commit; the usurped writer just wastes its staged work.
    */
  val DefaultLeaseMs: Long = 10 * 60 * 1000L

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Normalized filesystem path of `dir` (no scheme), for relativizing
    * `input_file_name()` URIs against the table root.
    */
  private def rootPath(spark: SparkSession, dir: String): String = {
    val fs = fsOf(spark, dir)
    fs.makeQualified(new Path(dir)).toUri.getPath
  }

  private def relName(root: String, fileUri: String): String =
    new Path(fileUri).toUri.getPath.stripPrefix(root).stripPrefix("/")

  private def readSmallFile(spark: SparkSession, dir: String,
      p: Path): Option[String] = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  private def currentLine(spark: SparkSession, dir: String): Option[String] = {
    // belt-and-braces for filesystems without atomic rename-replace:
    // an empty read means a writer is mid-flip — wait it out briefly
    // rather than hand a blank line to the version parser. On
    // CHECKSUMMED local filesystems the flip replaces TWO files (data
    // + .crc sidecar) and only the data rename is atomic, so a racing
    // reader can also observe a mismatched pair — same wait-out.
    var tries = 0
    while (true) {
      val attempt =
        try readSmallFile(spark, dir, new Path(s"$dir/$DirName/CURRENT"))
        catch { case _: org.apache.hadoop.fs.ChecksumException =>
          Some("") // torn crc/data pair mid-flip: retry below
        }
      attempt match {
        case Some("") if tries < 50 => tries += 1; Thread.sleep(10)
        case Some("") => throw new IllegalStateException(
          s"CURRENT of $dir stayed empty/torn after ${tries} reads — " +
            "torn pointer write?")
        case other => return other
      }
    }
    None // unreachable
  }

  def currentVersion(spark: SparkSession, dir: String): Option[Int] =
    currentLine(spark, dir)
      .map(_.split("\\s+").head.stripPrefix("v").toInt)

  /** The streaming-transaction id carried by the CURRENT pointer (the
    * Delta txn pattern): a committing micro-batch records its batchId
    * IN the same atomic pointer write as the snapshot flip, so a
    * replayed batch after a crash can see it was already applied —
    * there is no window where the data is visible but the txn is not.
    */
  def lastTxn(spark: SparkSession, dir: String): Option[Long] =
    currentLine(spark, dir).flatMap(_.split("\\s+")
      .find(_.startsWith("txn=")).map(_.stripPrefix("txn=").toLong))

  /** Sanitized token key for an application-scoped txn — the raw app
    * id is user text, so it rides as a fixed-width md5 prefix.
    */
  private def txnAppKey(app: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(app.getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString

  /** Per-application txn watermark (`txn:<md5(app)>=N` tokens in
    * CURRENT) — the Delta txnAppId pattern: the single `txn=` max is
    * only a valid replay guard for ONE writer's monotone epochs; with
    * two streams appending to one table their epoch counters
    * interleave, and the global max would silently no-op whichever
    * stream runs behind. App-scoped watermarks give each stream its
    * own monotone lane; every commit carries all apps' tokens forward.
    */
  def lastTxnFor(spark: SparkSession, dir: String,
      app: String): Option[Long] = {
    val key = s"txn:${txnAppKey(app)}="
    currentLine(spark, dir).flatMap(_.split("\\s+")
      .find(_.startsWith(key)).map(_.stripPrefix(key).toLong))
  }

  /** All app-scoped txn tokens of the current pointer, for carry. */
  private def txnAppTokens(spark: SparkSession, dir: String): Seq[String] =
    currentLine(spark, dir).toSeq.flatMap(_.split("\\s+")
      .filter(_.startsWith("txn:")))

  /** Every app-scoped watermark of the current pointer, keyed by the
    * sanitized token key — the maintenance view (intent vacuuming)
    * that doesn't know which app ids stamped the table.
    */
  private[graft] def txnAppWatermarks(spark: SparkSession,
      dir: String): Map[String, Long] =
    txnAppTokens(spark, dir).flatMap { t =>
      t.stripPrefix("txn:").split("=", 2) match {
        case Array(k, v) => v.toLongOption.map(k -> _)
        case _ => None
      }
    }.toMap

  /** Zero-job identity of a manifest-table corpus (round-18 verdict
    * #2): a committed snapshot is immutable, so (qualified dir,
    * version) identifies its CONTENT without scanning it — the
    * build-once-master guards ([[graft.ops.Dedup.lshIndexFresh]],
    * [[graft.ops.Bm25Index.fresh]]) accept this as the corpus
    * fingerprint, turning every clone-path setup from an O(corpus)
    * content scan into two FS reads. None when `dir` holds no
    * committed manifest (raw frames keep the content scan).
    */
  def snapshotIdentity(spark: SparkSession, dir: String): Option[String] =
    currentVersion(spark, dir).map { v =>
      val p = new Path(dir)
      s"mf:${fsOf(spark, dir).makeQualified(p)}@v$v"
    }

  def read(spark: SparkSession, dir: String): Option[Seq[ManifestEntry]] =
    currentVersion(spark, dir).flatMap(v => readVersion(spark, dir, v))

  /** Read a SPECIFIC snapshot — time travel. Any version whose data
    * files have not been [[vacuum]]ed is fully readable: in-place
    * commits only ADD files and swap the pointer, they never delete.
    * Materializes the full entry list on the driver — planning paths
    * that only need a filtered subset should go through [[entriesDF]].
    */
  def readVersion(spark: SparkSession, dir: String,
      version: Int): Option[Seq[ManifestEntry]] =
    entriesLocal(spark, dir, version).map(_.sortBy(_.name)).orElse(
      entriesDF(spark, dir, version).map(
        _.as(Encoders.product[ManifestEntry])
          .collect().toSeq.sortBy(_.name)))

  // ── Chunked snapshots (manifest-list indirection) ──────────────────
  //
  // Every snapshot stores `_chunks.json` in v<K>: an ordered list of
  // immutable chunk files under `_manifest/chunks/`, each holding a
  // slice of the entry list. Serializing the complete list into v<K>
  // would make every commit an O(#files) metadata write — at 100 TB
  // (1e5-1e6 files) every append would pay for the whole table. With
  // chunks an append commit writes ONE new chunk (O(delta) rows) and
  // carries every previous chunk by reference — flat commit latency
  // regardless of table size (the Iceberg manifest-list design,
  // reduced to its essence); a full-list commit ([[write]]) lands its
  // list as fresh chunks. Planning reads chunks as a distributed
  // DataFrame ([[entriesDF]]), never funneling the file list through
  // the driver unless a caller asks for Seq.

  val ChunksDir = "chunks"
  val ChunksFile = "_chunks.json"

  /** One immutable slice of a chunked snapshot's entry list. `path` is
    * relative to `<table>/_manifest/`; `n` is the (advisory) entry
    * count used by the merge policy.
    */
  case class ChunkRef(path: String, n: Long)

  /** Bound on the chunk-list length: past it, the smallest chunks are
    * merged down to [[TargetChunks]] — a log-structured compaction
    * that keeps list reads O(64) files while amortizing merge cost
    * over the commits that fragmented the list.
    */
  val MaxChunks = 64
  val TargetChunks = 32

  private[graft] val entrySchema: StructType =
    Encoders.product[ManifestEntry].schema

  // ── Driver-side entry JSONL (round 19) ─────────────────────────────
  //
  // Every commit used to launch a Spark job just to serialize a
  // driver-resident Seq[ManifestEntry] as a one-file JSONL chunk, and
  // every metadata read (readVersion / namesAndRows / the append's
  // sample entry) launched another to parse it back — pure fixed
  // per-commit/per-read latency (guide §5: the driver should do no
  // DATA work, but table METADATA of bounded size is exactly driver
  // work). The entries are our own fixed shape, written by this file:
  // serialize and parse them on the driver. Reads are size-gated —
  // a 100 TB table's million-entry list stays on the distributed
  // path ([[entriesDF]]), which remains the planning surface.

  private def escJson(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append("\\u%04x".format(c.toInt))
      case c => b.append(c)
    }
    b.toString
  }

  /** One entry as a JSON line — parse-compatible with what
    * `Dataset[ManifestEntry].write.json` produced (same field names;
    * schema-based readers are field-order-insensitive and treat a
    * missing `sstats` as null, which is how Spark serialized None).
    */
  private[graft] def entryJsonLine(e: ManifestEntry): String = {
    val stats = e.stats.map(r =>
      s"""{"col":"${escJson(r.col)}","min":${r.min},"max":${r.max}}""")
      .mkString("[", ",", "]")
    val sstats = e.sstats.map(_.map(r =>
      s"""{"col":"${escJson(r.col)}","min":"${escJson(r.min)}",""" +
        s""""max":"${escJson(r.max)}"}""")
      .mkString(""","sstats":[""", ",", "]")).getOrElse("")
    s"""{"name":"${escJson(e.name)}","rows":${e.rows},""" +
      s""""bytes":${e.bytes},"stats":$stats$sstats}"""
  }

  private lazy val entryMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  private def parseEntryLine(line: String): ManifestEntry = {
    import scala.jdk.CollectionConverters._
    val n = entryMapper.readTree(line)
    def ranges(field: String): Option[Seq[(String, String, String)]] =
      Option(n.get(field)).filterNot(_.isNull).map(_.elements().asScala
        .map(e => (e.get("col").asText(), e.get("min").asText(),
          e.get("max").asText())).toSeq)
    ManifestEntry(
      n.get("name").asText(), n.get("rows").asLong(),
      n.get("bytes").asLong(),
      ranges("stats").getOrElse(Seq.empty)
        .map { case (c, mn, mx) => ColRange(c, mn.toLong, mx.toLong) },
      ranges("sstats").map(_.map { case (c, mn, mx) =>
        ColRangeS(c, mn, mx) }))
  }

  /** Size gate for driver-side entry reads: lists at or under this
    * many entries parse on the driver; larger snapshots keep the
    * distributed JSON scan. 64k entries ≈ a few MB of JSONL — trivial
    * driver work; a genuinely large table never crosses onto the
    * driver. `spark.graft.manifest.localReadEntries` overrides.
    */
  private def localReadGate(spark: SparkSession): Long =
    spark.conf.get("spark.graft.manifest.localReadEntries",
      "65536").toLong

  /** Driver-side read of a snapshot's full entry list — None when the
    * snapshot is missing or too large for the gate (callers fall back
    * to [[entriesDF]]).
    */
  private def entriesLocal(spark: SparkSession, dir: String,
      version: Int): Option[Seq[ManifestEntry]] = {
    val refs = chunkRefs(spark, dir, version).getOrElse(return None)
    val gate = localReadGate(spark)
    if (refs.map(_.n).sum > gate) return None
    val fs = fsOf(spark, dir)
    val paths = refs.map(r => new Path(s"$dir/$DirName/${r.path}"))
    // byte form of the entry gate (~256 B/entry upper bound): the
    // default 64k entries ⇒ 16 MB. Ref counts are APPROXIMATE for
    // chunks landed by the distributed landChunk (n/parts, min 1), so
    // the configured gate also bounds the actual chunk bytes — a large
    // snapshot never lands on the driver past the operator's limit.
    if (paths.map(p => fs.getFileStatus(p).getLen).sum > gate * 256L)
      return None
    val out = Seq.newBuilder[ManifestEntry]
    paths.foreach { p =>
      readSmallFile(spark, dir, p).foreach(_.split('\n').iterator
        .map(_.trim).filter(_.nonEmpty)
        .foreach(l => out += parseEntryLine(l)))
    }
    Some(out.result())
  }

  /** The chunk list of a snapshot — None for a missing snapshot. A
    * `v<K>` directory without `_chunks.json` is not a snapshot this
    * format can read: it fails loudly rather than reading as an empty
    * table.
    */
  def chunkRefs(spark: SparkSession, dir: String,
      version: Int): Option[Seq[ChunkRef]] = {
    val snap = s"$dir/$DirName/v$version"
    readSmallFile(spark, dir, new Path(s"$snap/$ChunksFile")) match {
      case Some(text) => Some(text.split('\n').iterator.map(_.trim)
        .filter(_.nonEmpty).map { l =>
          // fixed two-field shape, written by writeChunked below — no
          // general JSON parse needed (paths are our own safe names)
          val m = """\{"path":"([^"]+)","n":(-?\d+)\}""".r
          l match {
            case m(p, n) => ChunkRef(p, n.toLong)
            case _ => throw new IllegalStateException(
              s"malformed chunk ref in v$version of $dir: $l")
          }
        }.toSeq)
      case None if fsOf(spark, dir).exists(new Path(snap)) =>
        throw new IllegalStateException(
          s"snapshot $snap has no $ChunksFile — not a chunked snapshot, " +
            "the only format this engine reads")
      case None => None
    }
  }

  /** The snapshot's entry list as a DataFrame (schema =
    * [[ManifestEntry]]), read distributed over its chunk files. This
    * is the planning surface: filter/join against it and collect only
    * the survivors, never the whole list.
    */
  def entriesDF(spark: SparkSession, dir: String,
      version: Int): Option[DataFrame] =
    chunkRefs(spark, dir, version).map { refs =>
      if (refs.isEmpty)
        spark.createDataset(Seq.empty[ManifestEntry])(
          Encoders.product[ManifestEntry]).toDF()
      else spark.read.schema(entrySchema)
        .json(refs.map(r => s"$dir/$DirName/${r.path}"): _*)
    }

  /** Commit `version` as a CHUNKED snapshot: `carried` chunk files are
    * referenced verbatim (never read, never rewritten); each non-empty
    * group in `added` lands as one fresh immutable chunk. Driver work
    * is O(delta + #chunks) — the metadata cost of appending to a
    * million-file table is the new entries plus a 64-line list file,
    * not the file list.
    */
  def writeChunked(spark: SparkSession, dir: String, version: Int,
      carried: Seq[ChunkRef], added: Seq[Seq[ManifestEntry]],
      txn: Option[Long] = None,
      claim: Option[String] = None,
      schema: Option[StructType] = None,
      leaseMs: Long = DefaultLeaseMs,
      txnApp: Option[(String, Long)] = None,
      meta: Option[Map[String, Long]] = None,
      metaDelta: () => Option[Map[String, Long]] = () => None): Unit = {
    val id = claim.getOrElse(claimVersion(spark, dir, version, leaseMs))
    val fs = fsOf(spark, dir)
    fs.mkdirs(new Path(s"$dir/$DirName/$ChunksDir"))
    // the added entry lists are ALREADY driver-resident Seqs — land
    // them as JSONL with plain FS writes (round 19): the old
    // createDataset + coalesce(1) json write paid one Spark job per
    // commit purely to serialize what the driver was holding
    val newRefs = added.filter(_.nonEmpty).zipWithIndex.flatMap {
      case (es, i) => landChunkLocal(spark, dir,
        s"c-v$version-${id.take(8)}-$i", es)
    }
    val allRefs = carried ++ newRefs
    val refs =
      if (allRefs.size <= MaxChunks) allRefs
      else mergeChunks(spark, dir, version, id, allRefs)
    val stage = s"$dir/$DirName/.stage-v$version-$id"
    fs.mkdirs(new Path(stage))
    val out = fs.create(new Path(s"$stage/$ChunksFile"), true)
    try out.write(refs.map(r => s"""{"path":"${r.path}","n":${r.n}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    fs.create(new Path(s"$stage/_SUCCESS"), true).close()
    commitStage(spark, dir, version, id, stage, txn, schema, txnApp,
      meta, metaDelta)
  }

  /** Chunked commit with REMOVALS — the delete-shaped delta: carried
    * chunks containing none of `removeNames` are referenced verbatim;
    * the chunks that do are rewritten minus those entries by a
    * distributed ANTI-JOIN over just the touched chunk files. Driver
    * work is O(removed + #chunks) — a copy-on-write delete against a
    * million-file table commits metadata proportional to the files it
    * actually touched, and no file-path Set ever materializes on the
    * driver.
    */
  def writeChunkedDelta(spark: SparkSession, dir: String, version: Int,
      base: Seq[ChunkRef], removeNames: Set[String],
      added: Seq[Seq[ManifestEntry]],
      txn: Option[Long] = None,
      claim: Option[String] = None,
      schema: Option[StructType] = None,
      leaseMs: Long = DefaultLeaseMs,
      txnApp: Option[(String, Long)] = None): Unit = {
    if (removeNames.isEmpty || base.isEmpty)
      return writeChunked(spark, dir, version, base, added, txn, claim,
        schema, leaseMs, txnApp)
    val id = claim.getOrElse(claimVersion(spark, dir, version, leaseMs))
    val rm = spark.createDataset(removeNames.toSeq)(
      Encoders.STRING).toDF("rm")
    // which chunk files mention a removed entry: distributed scan,
    // O(removed) rows back
    val touched = spark.read.schema(entrySchema)
      .json(base.map(r => s"$dir/$DirName/${r.path}"): _*)
      .select(col("name"), input_file_name().as("chunk"))
      .join(broadcast(rm), col("name") === col("rm"))
      .select("chunk").distinct()
      .collect().map(r => new Path(r.getString(0)).getName).toSet
    val (hit, carried) = base.partition(r =>
      touched.contains(r.path.split('/').last))
    val survivors =
      if (hit.isEmpty) Nil
      else landChunk(spark, dir, s"c-v$version-${id.take(8)}-d",
        spark.read.schema(entrySchema)
          .json(hit.map(r => s"$dir/$DirName/${r.path}"): _*)
          .join(broadcast(rm), col("name") === col("rm"), "left_anti"),
        math.max(1L, hit.map(_.n).sum - removeNames.size))
    writeChunked(spark, dir, version, carried ++ survivors, added,
      txn, Some(id), schema, leaseMs, txnApp)
  }

  /** Entries per chunk part — sized so a part stays a few tens of MB
    * of JSONL, one comfortable task.
    */
  private val ChunkPartRows = 131072L

  /** Land `df` (entry rows) as one or more immutable chunk files in
    * the chunk store — a merged million-entry chunk is written as
    * multiple parts, each its own chunk, so metadata writes stay
    * distributed like everything else.
    */
  /** [[landChunk]] for a driver-resident entry list: JSONL written
    * with plain FS create+rename (same tmp-then-rename landing), no
    * Spark job. Splits at [[ChunkPartRows]] like the distributed form
    * so chunk sizing policy is unchanged; refs carry EXACT counts.
    */
  private def landChunkLocal(spark: SparkSession, dir: String,
      name: String, es: Seq[ManifestEntry]): Seq[ChunkRef] = {
    val fs = fsOf(spark, dir)
    es.grouped(ChunkPartRows.toInt).zipWithIndex.map { case (part, i) =>
      val rel = s"$ChunksDir/$name-$i.json"
      val tmp = new Path(s"$dir/$DirName/.chunk-$name-$i.json")
      val out = fs.create(tmp, true)
      try out.write(part.map(entryJsonLine)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      require(fs.rename(tmp, new Path(s"$dir/$DirName/$rel")),
        s"chunk $name-$i failed to land under $dir")
      ChunkRef(rel, part.size.toLong)
    }.toSeq
  }

  private def landChunk(spark: SparkSession, dir: String, name: String,
      df: DataFrame, n: Long): Seq[ChunkRef] = {
    val fs = fsOf(spark, dir)
    val tmp = s"$dir/$DirName/.chunk-$name"
    val parts = math.max(1L, math.min(64L,
      (n + ChunkPartRows - 1) / ChunkPartRows)).toInt
    (if (parts == 1) df.coalesce(1) else df.repartition(parts))
      .write.mode("overwrite").json(tmp)
    val landed = fs.listStatus(new Path(tmp)).map(_.getPath)
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    require(landed.nonEmpty, s"no chunk part landed in $tmp")
    val refs = landed.zipWithIndex.map { case (p, i) =>
      val rel = s"$ChunksDir/$name-$i.json"
      require(fs.rename(p, new Path(s"$dir/$DirName/$rel")),
        s"chunk $name-$i failed to land under $dir")
      ChunkRef(rel, math.max(1L, n / landed.length))
    }.toSeq
    fs.delete(new Path(tmp), true)
    refs
  }

  /** Merge the smallest chunks down to [[TargetChunks]]: a distributed
    * read of just those chunk files, fresh parts out. Amortized over
    * the ≥32 commits that grew the list, each commit pays O(total/32).
    */
  private def mergeChunks(spark: SparkSession, dir: String, version: Int,
      id: String, refs: Seq[ChunkRef]): Seq[ChunkRef] = {
    val sorted = refs.sortBy(_.n)
    val nMerge = refs.size - TargetChunks + 1
    val (merge, keep) = (sorted.take(nMerge), sorted.drop(nMerge))
    val df = spark.read.schema(entrySchema)
      .json(merge.map(r => s"$dir/$DirName/${r.path}"): _*)
    landChunk(spark, dir, s"c-v$version-${id.take(8)}-m",
      df, merge.map(_.n).sum) ++ keep
  }

  /** (sorted relative file names, total rows) of a snapshot without
    * materializing full entries — the name list is the irreducible
    * driver payload any Spark scan needs (a FileIndex holds it
    * anyway); stats and everything else stay distributed.
    */
  private[graft] def namesAndRows(spark: SparkSession, dir: String,
      version: Int): (Seq[String], Long) =
    entriesLocal(spark, dir, version) match {
      case Some(es) => (es.map(_.name).sorted, es.map(_.rows).sum)
      case None => entriesDF(spark, dir, version) match {
        case None => (Nil, 0L)
        case Some(df) =>
          val rs = df.select("name", "rows").collect()
          (rs.map(_.getString(0)).toSeq.sorted, rs.map(_.getLong(1)).sum)
      }
    }

  /** [[ensureVersioned]] for DELTA commits: pins the version and hands
    * back what an O(delta) append actually needs — the carried chunk
    * refs and ONE sample entry — without materializing the file list.
    * A directory with no manifest yet gets one ([[create]]) first.
    */
  def ensureVersionedDelta(spark: SparkSession, dir: String,
      statCols: Seq[String]): (Int, Seq[ChunkRef], Option[ManifestEntry]) = {
    val v = currentVersion(spark, dir).getOrElse {
      create(spark, dir, statCols)
      currentVersion(spark, dir).getOrElse(1)
    }
    val refs = chunkRefs(spark, dir, v).getOrElse(
      throw new IllegalStateException(
        s"CURRENT of $dir points at missing snapshot v$v"))
    // the sample entry (partition layout + schema alignment) only
    // needs ONE row: the first line of the first chunk, read on the
    // driver — the old limit(1) collect was a Spark job on EVERY delta
    // append (round 19)
    val head = refs.headOption.flatMap { r =>
      val fs = fsOf(spark, dir)
      val p = new Path(s"$dir/$DirName/${r.path}")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(in, "UTF-8"))
          Option(br.readLine()).map(_.trim).filter(_.nonEmpty)
            .map(parseEntryLine)
        } finally in.close()
      }
    }
    (v, refs, head)
  }

  /** The table schema AS OF `version` — recorded by every commit since
    * schema tracking landed ([[write]] stages `_schema.json` inside
    * the snapshot dir, so schema and file list are atomic). `None` for
    * pre-tracking snapshots.
    */
  def tableSchema(spark: SparkSession, dir: String,
      version: Int): Option[StructType] =
    readSmallFile(spark, dir,
      new Path(s"$dir/$DirName/v$version/$SchemaFile"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Per-SNAPSHOT key/value counters (`v<K>/_meta.props`) — small
    * exact statistics a table's OWNER maintains at commit time so
    * policy checks (auto-flush ratios, broadcast gates) read DRIVER-
    * SIDE metadata instead of running a Spark job per maintenance
    * decision (round-17 verdict #3). Stored IN the snapshot dir like
    * `_schema.json`, so version-pinned readers see the counters AS OF
    * their version, and carried forward verbatim by commits that do
    * not update them (compaction, stat folds, appends by meta-unaware
    * writers). The map is opaque to this layer: callers own key
    * names and delta arithmetic; single-writer commit discipline
    * (claims + basis check) is what keeps read-modify-write updates
    * exact.
    */
  val MetaFile = "_meta.props"

  def metaOf(spark: SparkSession, dir: String,
      version: Int): Map[String, Long] =
    readSmallFile(spark, dir,
      new Path(s"$dir/$DirName/v$version/$MetaFile"))
      .map(_.linesIterator.filter(_.contains("="))
        .map { l =>
          val Array(k, v) = l.split("=", 2); (k.trim, v.trim.toLong)
        }.toMap)
      .getOrElse(Map.empty)

  /** Current-version counters, empty when absent (legacy tables). */
  def currentMeta(spark: SparkSession, dir: String): Map[String, Long] =
    currentVersion(spark, dir)
      .map(metaOf(spark, dir, _)).getOrElse(Map.empty)

  /** Claim the lease token for committing `version`; returns the claim
    * id. First-writer-wins: `fs.create(path, overwrite = false)`
    * succeeds exactly once per token, so of two racing committers that
    * both computed the same next version, one proceeds and the other
    * gets a ConcurrentModificationException to retry from a fresh read
    * (the optimistic-concurrency protocol of every manifest-based
    * format). A token whose snapshot never landed and whose age
    * exceeds `leaseMs` belongs to a crashed writer and is taken over —
    * a LIVE slow writer is protected by the lease window, and even
    * past it the rename arbiter in [[write]] still prevents a double
    * commit (the usurped writer aborts pre-pointer-flip).
    */
  def claimVersion(spark: SparkSession, dir: String, version: Int,
      leaseMs: Long = DefaultLeaseMs): String = {
    val fs = fsOf(spark, dir)
    val token = new Path(s"$dir/$DirName/commit-v$version")
    fs.mkdirs(token.getParent)
    val id = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        val out = fs.create(token, false)
        try out.write(id.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val done = fs.exists(new Path(s"$dir/$DirName/v$version/_SUCCESS")) ||
        currentVersion(spark, dir).exists(_ >= version)
      if (done) throw new java.util.ConcurrentModificationException(
        s"version v$version of $dir was already committed by another " +
          "writer — re-read the current version and retry")
      val age = System.currentTimeMillis() -
        fs.getFileStatus(token).getModificationTime
      if (age < leaseMs) throw new java.util.ConcurrentModificationException(
        s"version v$version of $dir is being committed by a live writer " +
          s"(claim age ${age}ms < lease ${leaseMs}ms) — retry later")
      fs.delete(token, false)
      if (!tryCreate()) throw new java.util.ConcurrentModificationException(
        s"lost the takeover race for version v$version of $dir — retry")
    }
    // BASIS CHECK: on a table WITH history, the claim is only valid
    // if it still sits at version-1. A commit that landed between the
    // caller's snapshot read and this claim means the caller planned
    // against a STALE entry list — committing it would silently drop
    // that writer's files (lost update). Release and make the caller
    // re-read. Fresh dirs (out-of-place rewrites, clones, creates)
    // have no basis to check — the rename arbiter still gates them.
    currentVersion(spark, dir) match {
      case Some(v0) if v0 != version - 1 =>
        fs.delete(token, false)
        throw new java.util.ConcurrentModificationException(
          s"table $dir moved to v$v0 while claiming v$version " +
            s"(expected basis v${version - 1}) — re-read and retry")
      case _ => ()
    }
    id
  }

  /** Commit the full entry list `entries` as version `version`: the
    * list lands as fresh chunk(s) of a snapshot that carries nothing
    * ([[writeChunked]]) — claim lease (unless the caller passes its
    * own `claim` id), stage the snapshot (with `schema`, or the
    * previous version's schema carried forward) into a hidden dir,
    * rename it to `v<K>` — the atomic arbiter that makes lost updates
    * impossible even across lease takeovers — and flip the CURRENT
    * pointer last (readers only ever see complete snapshots).
    */
  def write(spark: SparkSession, dir: String, entries: Seq[ManifestEntry],
      version: Int, txn: Option[Long] = None,
      claim: Option[String] = None,
      schema: Option[StructType] = None,
      leaseMs: Long = DefaultLeaseMs,
      txnApp: Option[(String, Long)] = None,
      meta: Option[Map[String, Long]] = None,
      metaDelta: () => Option[Map[String, Long]] = () => None): Unit =
    writeChunked(spark, dir, version, Nil, Seq(entries), txn, claim,
      schema, leaseMs, txnApp, meta, metaDelta)

  /** Commit tail of [[writeChunked]]: carry the txn watermarks and
    * schema forward, land `_schema.json` in the staged snapshot, run
    * the rename arbiter, flip the pointer.
    */
  private def commitStage(spark: SparkSession, dir: String, version: Int,
      id: String, stage: String, txn: Option[Long],
      schema: Option[StructType],
      txnApp: Option[(String, Long)],
      meta: Option[Map[String, Long]] = None,
      metaDelta: () => Option[Map[String, Long]] = () => None): Unit = {
    // a maintenance commit must not erase the last streaming txn (a
    // post-crash batch replay would re-append) nor the schema record:
    // carry both forward unless this commit sets its own. App-scoped
    // txn tokens carry the same way, with this commit's app replaced.
    val effTxn = txn.orElse(lastTxn(spark, dir))
    val appTokens = {
      val newTok = txnApp.map { case (a, n) => s"txn:${txnAppKey(a)}=$n" }
      val newKey = newTok.map(_.takeWhile(_ != '=') + "=")
      txnAppTokens(spark, dir)
        .filterNot(t => newKey.exists(t.startsWith)) ++ newTok
    }
    // schemas are stored all-nullable: files written BEFORE an
    // add-column evolution backfill NULL, so a non-nullable field
    // recorded from a literal-valued batch would make codegen read
    // garbage (NPE) off those files
    val effSchema = schema.orElse(
        currentVersion(spark, dir).flatMap(tableSchema(spark, dir, _)))
      .map(s => StructType(s.fields.map(_.copy(nullable = true))))
    val fs = fsOf(spark, dir)
    effSchema.foreach { s =>
      val out = fs.create(new Path(s"$stage/$SchemaFile"), true)
      try out.write(s.json.getBytes("UTF-8")) finally out.close()
    }
    // snapshot counters: set by this commit (absolute `meta`), or the
    // commit's DELTAS folded against the claim-time base — the read
    // happens HERE, under the held claim (whose basis check pinned the
    // base to version-1), so a concurrent commit landing between the
    // caller's planning read and this commit can no longer have its
    // counter update silently overwritten (round-18 advisor: the old
    // caller-side read-modify-write could lose another writer's delta
    // and feed the zero-tombstone fast paths stale pending_dels).
    // Otherwise carried verbatim. metaDelta is lazily evaluated here —
    // callers may derive deltas from metrics observed during this
    // commit's own staged-write job. A pre-tracking table (empty base)
    // records nothing; the gated consumers fall back to measuring.
    val effMeta = meta.getOrElse {
      val base = currentMeta(spark, dir)
      metaDelta() match {
        case Some(d) if base.nonEmpty =>
          base ++ d.map { case (k, dv) => k -> (base.getOrElse(k, 0L) + dv) }
        case _ => base
      }
    }
    if (effMeta.nonEmpty) {
      val out = fs.create(new Path(s"$stage/$MetaFile"), true)
      try out.write(effMeta.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
    val vPath = new Path(s"$dir/$DirName/v$version")
    val landed = !fs.exists(vPath) && fs.rename(new Path(stage), vPath)
    if (!landed) {
      fs.delete(new Path(stage), true)
      throw new java.util.ConcurrentModificationException(
        s"another writer's v$version snapshot landed first under $dir — " +
          "re-read the current version and retry")
    }
    val tag = effTxn.map(t => s" txn=$t").getOrElse("") +
      appTokens.map(t => s" $t").mkString
    // ATOMIC pointer flip: fs.create(overwrite=true) TRUNCATES before
    // writing, so a concurrent reader could observe an EMPTY pointer
    // (caught by the racing writer specs). Write beside and rename
    // over. On LOCAL filesystems the rename must go through the RAW
    // fs: the checksummed wrappers (ChecksumFs FileContext rename,
    // and the .crc sidecar generally) either DELETE the destination
    // before renaming — a reader-visible no-CURRENT window — or leave
    // a crc/data pair that can't be replaced atomically as a unit
    // (both observed by the racing specs as table-not-found and
    // ChecksumException). RawLocalFileSystem.rename is POSIX
    // rename(2): the destination is replaced atomically and readers
    // only ever see the old line or the new one. HDFS-like systems
    // keep the FileContext OVERWRITE rename (atomic there, no crc
    // sidecars).
    val tmpPtr = new Path(s"$dir/$DirName/.CURRENT-$id")
    val cur = new Path(s"$dir/$DirName/CURRENT")
    fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        val raw = c.getRawFileSystem
        val out = raw.create(tmpPtr, true)
        try out.write(s"v$version$tag\n".getBytes("UTF-8"))
        finally out.close()
        // legacy cleanup: a sidecar written by the old checksummed
        // flip would mismatch every raw-renamed pointer after this
        val crc = new Path(s"$dir/$DirName/.CURRENT.crc")
        if (raw.exists(crc)) raw.delete(crc, false)
        if (!raw.rename(tmpPtr, cur)) {
          raw.delete(cur, false) // non-POSIX fallback (never on Linux)
          require(raw.rename(tmpPtr, cur),
            s"pointer flip to v$version failed under $dir")
        }
      case _ =>
        val out = fs.create(tmpPtr, true)
        try out.write(s"v$version$tag\n".getBytes("UTF-8"))
        finally out.close()
        org.apache.hadoop.fs.FileContext.getFileContext(tmpPtr.toUri,
            spark.sparkContext.hadoopConfiguration)
          .rename(tmpPtr, cur,
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Per-file stats in one distributed pass. `onlyNames` restricts the
    * scan to specific relative paths (incremental commits stat ONLY
    * the files they rewrote). Integral stat columns record BIGINT
    * ranges; string stat columns record string ranges — both feed
    * [[prunedPaths]].
    */
  def scanStats(spark: SparkSession, dir: String, statColsIn: Seq[String],
      onlyNames: Option[Seq[String]] = None): Seq[ManifestEntry] = {
    val fs = fsOf(spark, dir)
    val root = rootPath(spark, dir)
    // stats scan raw files, so key ranges on PHYSICAL names: a caller
    // naming a renamed column still stats the underlying one
    val statCols = currentVersion(spark, dir)
      .flatMap(tableSchema(spark, dir, _)) match {
      case Some(s) => statColsIn.map(c =>
        s.fields.find(_.name == c).map(physNameOf).getOrElse(c))
      case None => statColsIn
    }
    // Commit-latency fast path: with no stat columns the only things
    // an entry needs are (rows, bytes), and for a bounded staged set
    // both come off the parquet FOOTERS, read on the driver — no
    // Spark job. An append commit was paying a fixed ~0.3-0.5 s
    // aggregate job just to count rows; at ingest-loop cadence
    // (build + N appends, two or three tables) that job dominated
    // the loop's bench cost. Large sets keep the distributed scan.
    if (statCols.isEmpty && onlyNames.exists(ns =>
        ns.nonEmpty && ns.size <= 512)) {
      val conf = spark.sparkContext.hadoopConfiguration
      return onlyNames.get.map { n =>
        val p = new Path(s"$dir/$n")
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        val rows = try rd.getRecordCount finally rd.close()
        ManifestEntry(n, rows, fs.getFileStatus(p).getLen, Seq.empty, None)
      }
        // the distributed path drops ZERO-ROW files naturally (an
        // empty input produces no groupBy(input_file_name) group) and
        // statStaged deletes the dropped stage files — e.g. TRUNCATE's
        // empty overwrite commits an EMPTY entry list. Match it.
        .filter(_.rows > 0)
        .sortBy(_.name)
    }
    val src = onlyNames match {
      case Some(names) =>
        if (names.isEmpty) return Seq.empty
        val paths = names.map(n => s"$dir/$n")
        val rd = spark.read.option("basePath", dir)
        // widened tables mix physical widths: read under the recorded
        // physical schema, extended with any columns the staged files
        // carry beyond it (an in-flight add-column evolution)
        currentVersion(spark, dir).flatMap(tableSchema(spark, dir, _)) match {
          case Some(s) =>
            val phys = physicalSchema(s)
            val have = phys.fieldNames.toSet
            val extras = rd.parquet(paths: _*).schema.fields
              .filterNot(f => have.contains(f.name))
            rd.schema(StructType(phys.fields ++ extras)).parquet(paths: _*)
          case None => rd.parquet(paths: _*)
        }
      case None => spark.read.parquet(dir)
    }
    val types = src.schema.fields.map(f => f.name -> f.dataType).toMap
    statCols.foreach { c =>
      val dt = types.getOrElse(c, throw new IllegalArgumentException(
        s"stat column $c does not exist in $dir " +
          s"(have ${types.keys.mkString(", ")})"))
      val ok = dt match {
        case StringType | org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType => true
        case _ => false
      }
      require(ok,
        s"stat column $c has unsupported type $dt — manifest ranges " +
          "cover integral, date/timestamp, and string columns")
    }
    val (strCols, numCols) =
      statCols.partition(c => types.get(c).contains(StringType))
    // the long stat domain per type: integrals as-is, dates as epoch
    // DAYS, timestamps as epoch MICROS — the scan-side filter
    // translation (ManifestSource.asLong) normalizes predicate
    // constants to the same domain, so pruning compares like to like
    def numExpr(c: String): Column = types(c) match {
      case org.apache.spark.sql.types.DateType =>
        unix_date(col(c)).cast("long")
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case _ => col(c).cast("long")
    }
    val aggs = count(lit(1)).as("n") +:
      (numCols.flatMap(c => Seq(
        min(numExpr(c)).as(s"mn_$c"),
        max(numExpr(c)).as(s"mx_$c"))) ++
       strCols.flatMap(c => Seq(
         min(col(c).cast("string")).as(s"smn_$c"),
         max(col(c).cast("string")).as(s"smx_$c"))))
    // result row layout: [f, n, <num mins/maxes>, <str mins/maxes>]
    val sBase = 2 + 2 * numCols.size
    src.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        val name = relName(root, r.getString(0))
        val bytes = fs.getFileStatus(new Path(s"$dir/$name")).getLen
        val sstats = strCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(sBase + 2 * i)) None
          else Some(ColRangeS(c, r.getString(sBase + 2 * i),
            r.getString(sBase + 2 * i + 1)))
        }
        ManifestEntry(name, r.getLong(1), bytes,
          numCols.zipWithIndex.flatMap { case (c, i) =>
            // an all-NULL column in a file has no range: record no
            // stats for it (pruning keeps the file — never wrong,
            // just unpruned), matching parquet's own missing-stats rule
            if (r.isNullAt(2 + 2 * i)) None
            else Some(ColRange(c, r.getLong(2 + 2 * i), r.getLong(3 + 2 * i)))
          },
          if (sstats.isEmpty) None else Some(sstats))
      }.sortBy(_.name)
  }

  /** Build and commit a fresh manifest (next version, or v1), recording
    * the table's schema with it.
    */
  def create(spark: SparkSession, dir: String,
      statCols: Seq[String]): Seq[ManifestEntry] = {
    val entries = scanStats(spark, dir, statCols)
    write(spark, dir, entries, currentVersion(spark, dir).getOrElse(0) + 1,
      schema = Some(spark.read.parquet(dir).schema))
    entries
  }

  /** Create-if-absent (idempotent reader-side repair). */
  def ensure(spark: SparkSession, dir: String,
      statCols: Seq[String]): Seq[ManifestEntry] =
    read(spark, dir).getOrElse(create(spark, dir, statCols))

  /** A COHERENT (version, entries) snapshot for a write verb: the
    * version is pinned FIRST and the entry list read for exactly that
    * version (a committed snapshot's file list is immutable). The
    * naive `ensure(); currentVersion()` pair races — another commit
    * landing between the two reads hands the verb a stale entry list
    * under a fresh version number, and its commit then silently DROPS
    * the other writer's files (a lost update). Pair this with
    * [[claimVersion]]'s basis check: the claim only holds if the
    * table is still at `version` when the token lands.
    */
  def ensureVersioned(spark: SparkSession, dir: String,
      statCols: Seq[String]): (Int, Seq[ManifestEntry]) =
    currentVersion(spark, dir) match {
      case Some(v) => (v, readVersion(spark, dir, v).getOrElse(
        throw new IllegalStateException(
          s"CURRENT of $dir points at missing snapshot v$v")))
      case None =>
        val entries = create(spark, dir, statCols)
        (currentVersion(spark, dir).getOrElse(1), entries)
    }

  /** Absolute paths of the files whose stat ranges intersect EVERY
    * requested `(col, lo, hi)` rectangle side — numeric sides in
    * `ranges`, lexicographic string sides in `strRanges`; `None` when
    * the table has no manifest (caller falls back to a full-directory
    * read). A file with no recorded stats for a column is kept —
    * pruning may only ever SKIP files it can prove non-matching.
    */
  def prunedPaths(spark: SparkSession, dir: String,
      ranges: Seq[(String, Long, Long)],
      strRanges: Seq[(String, String, String)] = Nil): Option[Seq[String]] = {
    // stats are keyed on PHYSICAL names — map renamed logical callers
    val toPhys: String => String = currentVersion(spark, dir)
      .flatMap(tableSchema(spark, dir, _)) match {
      case Some(s) => c => s.fields.find(_.name == c)
        .map(physNameOf).getOrElse(c)
      case None => identity
    }
    // the intersection runs as a DataFrame filter over the (possibly
    // chunked) entry list — distributed over chunk files, with only
    // the SURVIVING names collected: planning a selective rectangle
    // on a million-file table moves O(matches) through the driver.
    // A file with no recorded stat for a column is kept (pruning may
    // only ever SKIP files it can prove non-matching) — expressed as
    // "no stat of this column proves disjointness".
    currentVersion(spark, dir).flatMap(v => entriesDF(spark, dir, v)).map {
      df =>
        val numPred = ranges.map { case (c, lo, hi) =>
          val pc = toPhys(c)
          !coalesce(exists(col("stats"), s =>
            s("col") === pc && (s("max") < lo || s("min") > hi)),
            lit(false))
        }
        val strPred = strRanges.map { case (c, lo, hi) =>
          val pc = toPhys(c)
          !coalesce(exists(col("sstats"), s =>
            s("col") === pc && (s("max") < lo || s("min") > hi)),
            lit(false))
        }
        val pred = (numPred ++ strPred)
          .reduceOption(_ && _).getOrElse(lit(true))
        df.filter(pred).select("name").collect()
          .map(r => s"$dir/${r.getString(0)}").toSeq.sorted
    }
  }

  /** Column-mapping metadata key (Delta-style): a renamed column keeps
    * its ORIGINAL physical name in every already-written file; the
    * recorded schema carries the logical name plus this metadata entry
    * pointing at the physical one. Reads fetch physical and project to
    * logical; writes stage under physical — so RENAME COLUMN is a
    * pure metadata commit and time travel still sees the old name
    * (older `_schema.json`s simply lack the mapping).
    */
  val PhysNameKey = "graft.physName"

  def physNameOf(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else f.name

  /** The recorded schema re-expressed in PHYSICAL column names — the
    * form parquet files actually carry, hence the read schema.
    */
  private[graft] def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physNameOf(f))))

  /** Multi-file read of manifest-tracked files under the recorded
    * PHYSICAL schema when one exists. A table that widened a type has
    * files of BOTH widths on disk, and plain schema inference pins one
    * random footer's width then fails reading the rest; the recorded
    * wide type upcasts every file uniformly. Physical names keep
    * renamed columns resolving. Untracked dirs fall back to inference.
    * Output columns are PHYSICAL — callers project to logical when
    * user-facing.
    */
  private[graft] def readPhysical(spark: SparkSession, dir: String,
      paths: Seq[String], version: Option[Int] = None): DataFrame = {
    val rd = spark.read.option("basePath", dir)
    version.orElse(currentVersion(spark, dir))
      .flatMap(tableSchema(spark, dir, _)) match {
      case Some(s) => rd.schema(physicalSchema(s)).parquet(paths: _*)
      case None => rd.parquet(paths: _*)
    }
  }

  /** Project a physically-named frame back to logical names (no-op
    * select when the schema has no renames).
    */
  private[graft] def toLogical(df: DataFrame, s: StructType): DataFrame =
    if (s.fields.forall(f => physNameOf(f) == f.name)) df
    else df.select(s.fields.toIndexedSeq.map(f =>
      col(physNameOf(f)).as(f.name, f.metadata)): _*)

  /** Deletion-vector directory of a snapshot version: a tiny parquet
    * set of (file, row position) pairs marking rows deleted
    * MERGE-ON-READ — the write-cheap delete path (Delta DVs / Iceberg
    * position deletes): marking costs O(matches) metadata, no data
    * file is rewritten, and readers subtract the positions. The marks
    * are Hive-keyed by data file (`file=<key>/` parts, the key being
    * the file's TABLE-ROOT-RELATIVE name — [[dvFileKey]]), and a
    * `_COUNT` sidecar carries the cumulative mark count.
    */
  def dvDir(dir: String, version: Int): String =
    s"$dir/$DirName/dv-v$version"

  def hasDeletionVectors(spark: SparkSession, dir: String): Boolean =
    currentVersion(spark, dir).exists(v =>
      fsOf(spark, dir).exists(new Path(dvDir(dir, v))))

  /** DV file key of a scanned row: the data file's TABLE-ROOT-RELATIVE
    * name — the last `depth + 1` components of the scan's
    * `_metadata.file_path`, where `depth` is the table's
    * partition-directory depth ([[dvDepth]]). The relative name IS the
    * manifest entry name, unique by construction. A BASENAME key is
    * only unique for unpartitioned tables: Hive layouts repeat
    * basenames across partition directories
    * (`bucket=1/append-v2-t-0.parquet` and `bucket=2/append-v2-t-0
    * .parquet`), so a basename-keyed vector would delete same-position
    * rows in EVERY sibling partition — the round-17 over-deletion fix,
    * caught by the keep-best/BM25 composition spec.
    */
  def dvFileKey(depth: Int): Column =
    array_join(slice(split(col("_metadata.file_path"), "/"),
      -(depth + 1), depth + 1), "/")

  /** Partition-directory depth of a table, from its entry names
    * (uniform across a Hive layout; 0 = unpartitioned, where the key
    * is the basename).
    */
  def dvDepth(names: Seq[String]): Int =
    names.headOption.map(_.count(_ == '/')).getOrElse(0)

  /** Carry a deletion vector VERBATIM to the next version: a plain
    * recursive filesystem copy of dv-v{from} as dv-v{to} — the marks
    * are byte-identical, so no Spark job (and its fixed scheduling
    * cost) is owed for an append that merely preserves them.
    */
  def copyDvDir(spark: SparkSession, dir: String, from: Int,
      to: Int): Unit = {
    val fs = fsOf(spark, dir)
    val src = new Path(dvDir(dir, from))
    if (fs.exists(src))
      org.apache.hadoop.fs.FileUtil.copy(fs, src,
        fs, new Path(dvDir(dir, to)), false, true,
        spark.sparkContext.hadoopConfiguration): Unit
  }

  /** Cumulative mark count of a vector, carried as a `_COUNT` sidecar
    * inside dv-v{K} (round 20): the auto-flush ratio check needs the
    * TOTAL mark count, and without the sidecar every delta-carried
    * commit would owe a count job over the whole store. Recursive
    * copies ([[copyDvDir]], clone) carry it verbatim; a missing or
    * torn sidecar just means the consumer falls back to counting —
    * never a wrong number.
    */
  private[graft] val DvCountFile = "_COUNT"

  private[graft] def stampDvCount(spark: SparkSession, dir: String,
      version: Int, n: Long): Unit = {
    val fs = fsOf(spark, dir)
    val out = fs.create(
      new Path(s"${dvDir(dir, version)}/$DvCountFile"), true)
    try out.write(s"$n\n".getBytes("UTF-8")) finally out.close()
  }

  private[graft] def dvCountOf(spark: SparkSession, dir: String,
      version: Int): Option[Long] =
    readSmallFile(spark, dir,
      new Path(s"${dvDir(dir, version)}/$DvCountFile"))
      .flatMap(_.trim.toLongOption)

  /** Move a freshly-written Hive-keyed delta of marks (`file=K/part-*`
    * under `tmp`) INTO dv-v{version}'s matching partition directories
    * — pure renames, no Spark job. Part names are write-UUID-unique,
    * so delta parts never collide with carried ones; a `file=` dir the
    * carry didn't have is created. The caller holds the commit claim.
    */
  private[graft] def moveDvDelta(spark: SparkSession, dir: String,
      version: Int, tmp: Path): Unit = {
    val fs = fsOf(spark, dir)
    val dst = new Path(dvDir(dir, version))
    fs.mkdirs(dst)
    if (fs.exists(tmp)) {
      fs.listStatus(tmp).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("file=")) {
          val sub = new Path(dst, st.getPath.getName)
          fs.mkdirs(sub)
          fs.listStatus(st.getPath).foreach { p =>
            if (p.isFile && !p.getPath.getName.startsWith("_") &&
                !p.getPath.getName.startsWith("."))
              require(fs.rename(p.getPath, new Path(sub, p.getPath.getName)),
                s"failed to move DV delta part ${p.getPath} into $sub")
          }
        }
      }
      fs.delete(tmp, true): Unit
    }
  }

  /** The deletion-vector marks of `version` as a (file, pos) DataFrame
    * — empty (not missing) when the version has no vector. `file` is
    * the table-root-relative data-file name ([[dvFileKey]]).
    */
  def dvMarks(spark: SparkSession, dir: String, version: Int): DataFrame =
    if (fsOf(spark, dir).exists(new Path(dvDir(dir, version))))
      // the store is Hive-keyed by `file` (per-file reader loads), so
      // a discovery read yields (pos, file); pin the canonical
      // (file, pos) order — consumers run POSITIONAL algebra on this
      spark.read.parquet(dvDir(dir, version))
        .select(col("file").cast("string"), col("pos"))
    else
      spark.emptyDataFrame
        .withColumn("file", lit("")).withColumn("pos", lit(0L))
        .filter(lit(false))

  /** Subtract `version`'s deletion vector (if any) from a read over
    * this table's files — the broadcast anti-join every read path that
    * bypasses [[readTable]] (pruned rectangles, incremental diffs)
    * must also apply, or marked rows would silently reappear there.
    */
  private def subtractDv(spark: SparkSession, dir: String, base: DataFrame,
      version: Option[Int], depth: Int): DataFrame =
    version.filter(v =>
        fsOf(spark, dir).exists(new Path(dvDir(dir, v)))) match {
      case Some(v) =>
        val marks = dvMarks(spark, dir, v)
        base
          .withColumn("_dv_f", dvFileKey(depth))
          .withColumn("_dv_p", col("_metadata.row_index"))
          .join(broadcast(marks), col("_dv_f") === marks("file") &&
            col("_dv_p") === marks("pos"), "left_anti")
          .drop("_dv_f", "_dv_p")
      case None => base
    }

  /** An empty DataFrame with the table's schema as of `version` —
    * what a read of a legitimately EMPTY snapshot (a committed
    * delete-all) must return. Falls back through older versions' still-
    * present files when the snapshot predates schema tracking.
    */
  private def emptyTable(spark: SparkSession, dir: String,
      version: Int): DataFrame = {
    val sch = tableSchema(spark, dir, version).orElse {
      // pre-tracking snapshot: recover the schema from the newest
      // older version that still has a readable file
      val fs = fsOf(spark, dir)
      (version - 1 to 1 by -1).iterator.flatMap { v =>
        readVersion(spark, dir, v).toSeq.flatten.headOption
          .filter(e => fs.exists(new Path(s"$dir/${e.name}")))
          .map(e => spark.read.parquet(s"$dir/${e.name}").schema)
      }.nextOption()
    }.getOrElse(throw new IllegalStateException(
      s"table $dir at v$version is empty and no schema was recorded — " +
        "cannot synthesize an empty read"))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
  }

  /** Read the table THROUGH its manifest: the file list comes from the
    * current snapshot (or the `version` snapshot — time travel), not a
    * directory walk, and `basePath` keeps partition-directory columns
    * intact. The version's recorded schema, when present, drives the
    * read — files written before an add-column evolution NULL-backfill
    * the new columns. A snapshot's deletion vector, when present, is
    * subtracted with a broadcast anti-join on (file, row position).
    *
    * An EMPTY snapshot (all rows deleted) reads as an empty table with
    * the recorded schema — NOT as a directory fallback, which would
    * resurrect every superseded file still on disk. The plain-read
    * fallback applies only when the directory has no manifest at all.
    * NOTE: once a table has in-place commits, a plain directory read
    * is WRONG (it would see superseded files) — the manifest is the
    * table, exactly as in any manifest-based format.
    */
  def readTable(spark: SparkSession, dir: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, dir))
    val entriesOpt: Option[Seq[ManifestEntry]] = version match {
      case Some(vv) => Some(readVersion(spark, dir, vv).getOrElse(
        throw new IllegalArgumentException(
          s"no manifest version $vv under $dir")))
      case None => read(spark, dir)
    }
    entriesOpt match {
      case None => spark.read.parquet(dir)
      case Some(entries) if entries.isEmpty => emptyTable(spark, dir, v.get)
      case Some(entries) =>
        val rd = spark.read.option("basePath", dir)
        val sch = v.flatMap(tableSchema(spark, dir, _))
        // read under the PHYSICAL form of the recorded schema (renamed
        // columns live in files under their original names), subtract
        // the vector, then project to logical names
        val base = sch.map(s => rd.schema(physicalSchema(s)))
          .getOrElse(rd)
          .parquet(entries.map(e => s"$dir/${e.name}"): _*)
        val live = subtractDv(spark, dir, base, v,
          dvDepth(entries.map(_.name)))
        sch.map(toLogical(live, _)).getOrElse(live)
    }
  }

  /** Manifest-pruned read with the deletion-vector subtraction applied
    * — the correct form of "read only the files whose ranges intersect
    * my predicate" for a table that may carry merge-on-read deletes.
    * Falls back to a plain directory read when no manifest exists.
    */
  def readPruned(spark: SparkSession, dir: String,
      ranges: Seq[(String, Long, Long)],
      strRanges: Seq[(String, String, String)] = Nil): DataFrame =
    prunedPaths(spark, dir, ranges, strRanges) match {
      case Some(paths) if paths.nonEmpty =>
        // same recorded-schema read as readTable: pre-evolution files
        // in the pruned set NULL-backfill instead of misreading
        val rd = spark.read.option("basePath", dir)
        val sch = currentVersion(spark, dir)
          .flatMap(tableSchema(spark, dir, _))
        val base = sch.map(s => rd.schema(physicalSchema(s)))
          .getOrElse(rd).parquet(paths: _*)
        val live = subtractDv(spark, dir, base,
          currentVersion(spark, dir),
          dvDepth(paths.map(_.stripPrefix(s"$dir/"))))
        sch.map(toLogical(live, _)).getOrElse(live)
      case Some(_) => read(spark, dir) match {
        case Some(entries) if entries.isEmpty =>
          emptyTable(spark, dir, currentVersion(spark, dir).get)
        case _ => readTable(spark, dir).filter(lit(false))
      }
      case None => spark.read.parquet(dir)
    }

  /** Rows ADDED between two snapshots: the files present in
    * `toVersion` but not in `fromVersion`, read as one DataFrame with
    * `toVersion`'s deletion marks on those files subtracted —
    * incremental consumption of an append-only table (each streaming
    * or batch append lands as new files, so the entry-name diff IS the
    * change set, and a downstream pipeline processes O(delta) per
    * cycle instead of rescanning the table). On tables that also
    * rewrite (delete/compact/upsert), rewritten survivors appear as
    * "added" files — restating rows the consumer has seen — so the
    * incremental contract is append-only windows between maintenance;
    * [[readCdc]] is the restatement-free change feed for those.
    */
  def readChanges(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    val fromNames = readVersion(spark, dir, fromVersion)
      .getOrElse(throw new IllegalArgumentException(
        s"no manifest version $fromVersion under $dir"))
      .map(_.name).toSet
    val added = readVersion(spark, dir, toVersion)
      .getOrElse(throw new IllegalArgumentException(
        s"no manifest version $toVersion under $dir"))
      .filterNot(e => fromNames.contains(e.name))
    if (added.isEmpty)
      readTable(spark, dir, Some(toVersion)).filter(lit(false))
    else {
      val rd = spark.read.option("basePath", dir)
      val sch = tableSchema(spark, dir, toVersion)
      val base = sch.map(s => rd.schema(physicalSchema(s)))
        .getOrElse(rd)
        .parquet(added.map(e => s"$dir/${e.name}"): _*)
      val live = subtractDv(spark, dir, base, Some(toVersion),
        dvDepth(added.map(_.name)))
      sch.map(toLogical(live, _)).getOrElse(live)
    }
  }

  /** CHANGE DATA FEED between two versions: every logical row change,
    * tagged `_change_type` = 'insert' | 'delete' (an update is a
    * delete + insert pair, as in Delta's CDF without the pre/post
    * distinction). Unlike [[readChanges]], maintenance rewrites do NOT
    * restate surviving rows: rows of removed files and rows of added
    * files cancel multiset-wise (`exceptAll`), so a compaction that
    * rewrites a terabyte of survivors emits ZERO change rows, and
    * deletion-vector marks added between the versions emit the marked
    * rows as deletes. Cost is O(changed files + marked rows), never
    * O(table): files common to both snapshots with unchanged vectors
    * are never opened.
    *
    * Invariant (ManifestSpec pins it): v_from rows + inserts − deletes
    * == v_to rows, hash-exactly, across any delete/upsert/append/
    * compact sequence.
    */
  def readCdc(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    val from = readVersion(spark, dir, fromVersion).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest version $fromVersion under $dir"))
    val to = readVersion(spark, dir, toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest version $toVersion under $dir"))
    val fromNames = from.map(_.name).toSet
    val toNames = to.map(_.name).toSet
    val added = to.filterNot(e => fromNames.contains(e.name))
    val removed = from.filterNot(e => toNames.contains(e.name))
    val common = from.filter(e => toNames.contains(e.name)).map(_.name)
    // read every side under the TO-version schema so an add-column
    // evolution inside the window NULL-backfills the older side and
    // the multiset subtraction stays well-typed
    val schema = tableSchema(spark, dir, toVersion)
    def readNames(names: Seq[String]): DataFrame = {
      if (names.isEmpty) {
        val base = readTable(spark, dir, Some(toVersion)).filter(lit(false))
        return base.withColumn("_dv_f", lit("")).withColumn("_dv_p", lit(0L))
      }
      val rd = spark.read.option("basePath", dir)
      val withDv = schema.map(s => rd.schema(physicalSchema(s)))
        .getOrElse(rd)
        .parquet(names.map(n => s"$dir/$n"): _*)
        .withColumn("_dv_f", dvFileKey(dvDepth(names)))
        .withColumn("_dv_p", col("_metadata.row_index"))
      // logical projection AFTER the metadata columns materialize
      // (`_metadata` resolves only on the scan's own output)
      schema.map(s => withDv.select(s.fields.toIndexedSeq.map(f =>
          col(physNameOf(f)).as(f.name, f.metadata)) ++
          Seq(col("_dv_f"), col("_dv_p")): _*))
        .getOrElse(withDv)
    }
    def minusMarks(df: DataFrame, marks: DataFrame): DataFrame =
      df.join(broadcast(marks), df("_dv_f") === marks("file") &&
        df("_dv_p") === marks("pos"), "left_anti")
    val dvF = dvMarks(spark, dir, fromVersion)
    val dvT = dvMarks(spark, dir, toVersion)
    // live rows of files that exist on only one side
    val addedRows = minusMarks(readNames(added.map(_.name)), dvT)
      .drop("_dv_f", "_dv_p")
    val removedRows = minusMarks(readNames(removed.map(_.name)), dvF)
      .drop("_dv_f", "_dv_p")
    // vector DIFF on files present in both snapshots: newly marked
    // positions are deletes; un-marked positions (a vector shrank —
    // not produced by this layer's verbs, handled for symmetry) are
    // inserts. Only the FILE LIST is ever collected (bounded by
    // #files, like all planning here); the positions themselves stay
    // distributed — a 100 TB delete's million-row diff must not
    // funnel through the driver.
    import spark.implicits._
    val commonBase = common.toDF("file")
    def markedRows(marks: DataFrame): DataFrame = {
      val diff = marks.join(broadcast(commonBase), Seq("file"), "left_semi")
      val files = diff.select("file").distinct()
        .collect().map(_.getString(0)).toSet
      if (files.isEmpty) {
        val base = readTable(spark, dir, Some(toVersion)).filter(lit(false))
        return base
      }
      val names = common.filter(files.contains)
      val base = readNames(names)
      base.join(diff, base("_dv_f") === diff("file") &&
          base("_dv_p") === diff("pos"), "left_semi")
        .drop("_dv_f", "_dv_p")
    }
    // exceptAll is POSITIONAL: pin one canonical column order on every
    // frame before any multiset algebra
    val cols = addedRows.columns.toSeq
    def canon(df: DataFrame): DataFrame = df.select(cols.map(col): _*)
    val newlyMarked = canon(markedRows(dvT.exceptAll(dvF)))
    val unMarked = canon(markedRows(dvF.exceptAll(dvT)))
    val add = canon(addedRows)
    val rem = canon(removedRows)
    // rewrite restatement cancels multiset-wise; DV-diff rows are on
    // common files, disjoint from the added/removed sets by definition
    val inserts = add.exceptAll(rem).unionByName(unMarked)
      .withColumn("_change_type", lit("insert"))
    val deletes = rem.exceptAll(add).unionByName(newlyMarked)
      .withColumn("_change_type", lit("delete"))
    inserts.unionByName(deletes)
  }

  /** Change-record directory of a snapshot version: the rows a
    * REWRITING commit logically deleted/inserted, materialized AT
    * COMMIT TIME (the Delta CDF design). The writing verb already
    * holds these rows in its plan, so recording costs one extra
    * O(changes) write — and consumption becomes a pure file read
    * instead of re-scanning changed files and shuffling an exceptAll
    * per consumer, which is what makes a STREAMING change feed viable
    * at 100 TB. Append-only commits record nothing: their file diff
    * IS the change set.
    */
  def cdcDir(dir: String, version: Int): String =
    s"$dir/$DirName/cdc-v$version"

  /** Materialize a commit's change rows (table columns +
    * `_change_type`). An empty `df` still writes the directory — an
    * explicit "this commit changed nothing" record (compaction,
    * vector flush) that spares the feed a diff fallback.
    */
  private[ops] def recordCdc(spark: SparkSession, dir: String,
      version: Int, df: DataFrame): Unit = {
    // normalize to PHYSICAL column names: some verbs build the record
    // from raw file reads (already physical), others from readTable
    // output (logical) — the stored record must be one form, and
    // physical keeps cdc files consistent with data files so every
    // consumer applies the same physical→logical projection
    val phys = currentVersion(spark, dir)
      .flatMap(tableSchema(spark, dir, _))
      .map(s => s.fields.filter(f => physNameOf(f) != f.name)
        .foldLeft(df)((acc, f) =>
          if (acc.columns.contains(f.name)) acc.withColumnRenamed(f.name, physNameOf(f))
          else acc))
      .getOrElse(df)
    // cap fragmentation without a shuffle: a targeted delete's record
    // is small and should not land as one tiny file per scan task
    phys.coalesce(32).write.mode("overwrite").parquet(cdcDir(dir, version))
  }

  /** Physical→logical rename on a frame that may carry EXTRA columns
    * (`_change_type`, `_commit_version`) — positionless form of
    * [[toLogical]] for change-feed frames.
    */
  private[graft] def toLogicalKeeping(df: DataFrame, s: StructType): DataFrame =
    s.fields.filter(f => physNameOf(f) != f.name)
      .foldLeft(df)((acc, f) =>
        if (acc.columns.contains(physNameOf(f)) &&
            !acc.columns.contains(f.name))
          acc.withColumnRenamed(physNameOf(f), f.name)
        else acc)

  /** Inverse of [[toLogicalKeeping]]: logical→physical rename for a
    * frame about to be STAGED as data files.
    */
  private[graft] def toPhysicalKeeping(df: DataFrame, s: StructType): DataFrame =
    s.fields.filter(f => physNameOf(f) != f.name)
      .foldLeft(df)((acc, f) =>
        if (acc.columns.contains(f.name) &&
            !acc.columns.contains(physNameOf(f)))
          acc.withColumnRenamed(f.name, physNameOf(f))
        else acc)

  /** The PER-VERSION change feed between two snapshots: every logical
    * change tagged `_change_type` ('insert' | 'delete'; an update is
    * the delete+insert pair) and `_commit_version` — Delta's
    * table_changes, over this layer's commit records. Each version in
    * `(from, to]` contributes either its recorded `cdc-v{K}` rows
    * (rewriting commits record them at commit time) or, for an
    * append-only commit (entry superset, no vector change), the added
    * files' rows as inserts — metadata-only classification, no
    * content diffing anywhere. Unlike [[readCdc]] (the NET endpoint
    * diff), a row inserted then deleted inside the window appears
    * TWICE, once per commit — feed semantics.
    * Throws when a rewriting version in the window predates change
    * recording — fall back to [[readCdc]] for those.
    */
  def readChangeFeed(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    val fs = fsOf(spark, dir)
    val perVersion = (fromVersion + 1 to toVersion).map { v =>
      val withVersion = (df: DataFrame) =>
        tableSchema(spark, dir, v)
          .map(toLogicalKeeping(df, _)).getOrElse(df)
          .withColumn("_commit_version", lit(v.toLong))
      if (fs.exists(new Path(cdcDir(dir, v))))
        withVersion(spark.read.parquet(cdcDir(dir, v)))
      else {
        val prev =
          if (v == 1) Set.empty[String]
          else readVersion(spark, dir, v - 1).getOrElse(
            throw new IllegalArgumentException(
              s"no manifest version ${v - 1} under $dir")).map(_.name).toSet
        val cur = readVersion(spark, dir, v).getOrElse(
          throw new IllegalArgumentException(
            s"no manifest version $v under $dir"))
        val isAppendOnly = prev.subsetOf(cur.map(_.name).toSet) &&
          !fs.exists(new Path(dvDir(dir, v)))
        if (!isAppendOnly) throw new IllegalStateException(
          s"version v$v of $dir rewrote files but recorded no change " +
            "set (pre-recording commit) — use readCdc for this window")
        val added = cur.filterNot(e => prev.contains(e.name))
        if (added.isEmpty)
          withVersion(readTable(spark, dir, Some(v)).filter(lit(false))
            .withColumn("_change_type", lit("insert")))
        else
          withVersion(spark.read.option("basePath", dir)
            .parquet(added.map(e => s"$dir/${e.name}"): _*)
            .withColumn("_change_type", lit("insert")))
      }
    }
    perVersion.reduce((a, b) =>
      a.unionByName(b, allowMissingColumns = true))
  }

  /** One line of [[history]] — DESCRIBE HISTORY for a manifest table.
    * `operation` is classified from the commit's own artifacts (the
    * verbs' file-name prefixes, vector/change-record presence), so no
    * extra metadata write is needed.
    */
  case class CommitInfo(version: Int, timestampMs: Long,
      operation: String, nFiles: Int, rows: Long, bytes: Long)

  /** The table's commit history, oldest first — version, commit time
    * (the snapshot directory's own mtime), operation, and size
    * totals. One small metadata read per version, no data file opens.
    */
  def history(spark: SparkSession, dir: String): Seq[CommitInfo] = {
    val fs = fsOf(spark, dir)
    val cur = currentVersion(spark, dir).getOrElse(return Seq.empty)
    (1 to cur).flatMap { v =>
      readVersion(spark, dir, v).map { entries =>
        val names = entries.map(_.name.split('/').last)
        val prevNames = if (v == 1) Set.empty[String]
          else readVersion(spark, dir, v - 1)
            .map(_.map(_.name).toSet).getOrElse(Set.empty)
        val added = entries.map(_.name).filterNot(prevNames.contains)
        def anyAdded(p: String) =
          added.exists(_.split('/').last.startsWith(p))
        val op =
          if (v == 1) "CREATE"
          else if (names.exists(_.startsWith(s"flush-v$v")) ||
            anyAdded(s"flush-v$v")) "FLUSH DELETES"
          else if (anyAdded(s"compact-v$v")) "OPTIMIZE"
          else if (anyAdded(s"upsert-v$v")) "MERGE"
          else if (anyAdded(s"rlo-v$v")) "UPDATE" // SQL row-level DML
          else if (anyAdded(s"delta-v$v")) "DELETE"
          else if (fs.exists(new Path(dvDir(dir, v)))) "DELETE (DV)"
          else if (anyAdded(s"append-v$v")) "APPEND"
          else if (added.isEmpty &&
            entries.map(_.name).toSet == prevNames &&
            tableSchema(spark, dir, v) !=
              tableSchema(spark, dir, v - 1)) "ALTER"
          else if (added.nonEmpty) "APPEND"
          else if (entries.size < prevNames.size) "DELETE"
          else "COMMIT"
        CommitInfo(v,
          fs.getFileStatus(new Path(s"$dir/$DirName/v$v"))
            .getModificationTime,
          op, entries.size, entries.map(_.rows).sum,
          entries.map(_.bytes).sum)
      }
    }
  }

  /** Time-BASED time travel: the newest version committed at or
    * before `tsMillis` — pass it to [[readTable]]'s `version`. `None`
    * when the table has no version that old.
    */
  def versionAt(spark: SparkSession, dir: String,
      tsMillis: Long): Option[Int] =
    history(spark, dir).filter(_.timestampMs <= tsMillis)
      .lastOption.map(_.version)

  /** Table-root-relative name of a data-file URI (the inverse of the
    * `$dir/$name` path construction used everywhere above).
    */
  def relativize(spark: SparkSession, dir: String, fileUri: String): String =
    relName(rootPath(spark, dir), fileUri)

  /** Delete every data file not referenced by the last `keepVersions`
    * snapshots — the storage-reclaim step that retires time travel to
    * older versions. The default keeps ONE superseded version readable
    * as a grace window, so a reader that planned against the previous
    * snapshot (or a time traveler pinned to it) does not hit
    * FileNotFound mid-scan the instant maintenance commits — the
    * retention discipline every production table format enforces.
    * Pass `keepVersions = 1` for an immediate, current-only reclaim;
    * size it to cover the deepest consumer lag when streaming /
    * change-feed readers follow the table (their windows need the
    * retained versions' files, vectors, and change records).
    * Never touches `_manifest` itself (old snapshots remain as
    * metadata history). Returns the number of files removed.
    */
  def vacuum(spark: SparkSession, dir: String,
      keepVersions: Int = 2): Int = {
    require(keepVersions >= 1, "vacuum must keep at least CURRENT")
    val cur = currentVersion(spark, dir).getOrElse(return 0)
    val live = (math.max(1, cur - keepVersions + 1) to cur)
      .flatMap(v => readVersion(spark, dir, v).toSeq.flatten)
      .map(_.name).toSet
    val fs = fsOf(spark, dir)
    val root = rootPath(spark, dir)
    val it = fs.listFiles(new Path(dir), true)
    var removed = 0
    val doomed = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val f = it.next()
      val rel = relName(root, f.getPath.toString)
      if (f.getPath.getName.endsWith(".parquet") &&
          !rel.startsWith(DirName + "/") && !live.contains(rel))
        doomed += f.getPath
    }
    doomed.foreach { p => if (fs.delete(p, false)) removed += 1 }
    // metadata debris, same retention discipline: staging dirs whose
    // commit crashed (past the claim lease — a live writer's stage is
    // still protected) and deletion-vector dirs of versions no time
    // traveler can reach any more. Not counted in the data-file tally.
    val mfPath = new Path(s"$dir/$DirName")
    val keepFloor = math.max(1, cur - keepVersions + 1)
    val now = System.currentTimeMillis()
    fs.listStatus(mfPath).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".stage-") &&
          now - st.getModificationTime > DefaultLeaseMs)
        fs.delete(st.getPath, true)
      else if (n.startsWith("dv-v") &&
          n.stripPrefix("dv-v").forall(_.isDigit) &&
          n.stripPrefix("dv-v").toInt < keepFloor)
        fs.delete(st.getPath, true)
      else if (n.startsWith("dv-v") && n.endsWith(".tmp") &&
          now - st.getModificationTime > DefaultLeaseMs)
        // delta-staging dir of a crashed replace/delete commit
        // (round 20 — the delta-carried vector write)
        fs.delete(st.getPath, true)
      else if (n.startsWith("cdc-v") &&
          n.stripPrefix("cdc-v").forall(_.isDigit) &&
          n.stripPrefix("cdc-v").toInt < keepFloor)
        fs.delete(st.getPath, true)
      else if (n.startsWith("commit-v") &&
          n.stripPrefix("commit-v").forall(_.isDigit) &&
          n.stripPrefix("commit-v").toInt <= cur)
        // spent claim tokens: their version landed, the lock is done
        fs.delete(st.getPath, false)
      else if (n.startsWith(".chunk-") &&
          now - st.getModificationTime > DefaultLeaseMs)
        // chunk staging dir of a crashed writer
        fs.delete(st.getPath, true)
    }
    // chunk-store GC: a chunk file referenced by NO snapshot dir is a
    // crash orphan (its commit lost the arbiter race) or debris of a
    // failed merge — removable once past the lease window. Chunks of
    // OLD versions stay referenced by those version dirs (which vacuum
    // keeps), preserving the existing metadata-outlives-data contract.
    val chunkStore = new Path(s"$dir/$DirName/$ChunksDir")
    if (fs.exists(chunkStore)) {
      val versions = fs.listStatus(mfPath).map(_.getPath.getName)
        .filter(n => n.length > 1 && n.head == 'v' &&
          n.tail.forall(_.isDigit)).map(_.tail.toInt)
      val referenced = versions
        .flatMap(v => chunkRefs(spark, dir, v).toSeq.flatten)
        .map(_.path).toSet
      fs.listStatus(chunkStore).foreach { st =>
        if (!referenced.contains(s"$ChunksDir/${st.getPath.getName}") &&
            now - st.getModificationTime > DefaultLeaseMs)
          fs.delete(st.getPath, false)
      }
    }
    removed
  }
}
