package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructField,
  StructType}

/** Data-layout management: multi-dimensional clustering (Z-order) and
  * small-file compaction. Neither changes query RESULTS — both change
  * what a 100 TB scan has to READ, which is the difference between a
  * pruned petabyte and a full one.
  *
  * Scale posture:
  *  - Z-ordering pays ONE range-shuffle at write time (exactly like a
  *    global sort) and buys row-group/file skipping on EVERY later
  *    rectangle query over the clustered dimensions. A 1-d sort gives
  *    tight min/max footer stats on one column only; the Morton curve
  *    gives tight-ish stats on BOTH, so parquet predicate pushdown
  *    prunes most files for 2-d selective predicates (ZOrderSpec
  *    measures rows actually read, clustered vs linear, same query).
  *  - The Z-key is pure bitwise arithmetic on the bucket-quantized
  *    coordinates — a codegen'd Column expression here and the
  *    identical `<< & |` chain in the DuckDB oracle, so clustering is
  *    hash-checkable end to end.
  *  - Compaction is coalesce-based: merging K small files into N big
  *    ones moves NO rows over the network (no shuffle — coalesce only
  *    unions input splits), reads each byte once and writes it once.
  *    The driver loop is O(#partition-dirs), never O(#files); each
  *    partition's merge is a distributed job. Small-file debt is the
  *    classic failure mode of streaming/incremental sinks at scale —
  *    a 100 TB table of 4 MB files spends more time opening footers
  *    than scanning.
  */
object Layout {

  /** Bump when the Z-key formula, write shape, or compaction layout
    * changes semantically: persisted derived layouts are cached by
    * path (SparkEntry.layoutDir embeds this), and a stale cache built
    * under old semantics must miss, not serve.
    * v2: layouts carry a versioned `_manifest` (file list + per-column
    * min/max) and reads plan from it instead of listing footers.
    * v3: commits record per-version schemas and change sets
    * (`_schema.json`, `cdc-v{K}`) — caches built before recording
    * existed must rebuild, or the change feed would see gaps.
    * v4: every snapshot is chunked (`_chunks.json`) — a cache holding
    * a v3 full-list snapshot would fail to read and must relocate.
    * v5: the standing LSH and BM25 indexes are clustered, not
    * Hive-bucketed ([[ClusterMetaKey]]) — a cache holding a v4
    * `bucket=` layout would fail the index geometry check.
    */
  val Version = 5

  /** Interleave steps: spread a 16-bit value so its bits occupy the
    * even positions of a 32-bit word (the classic mask ladder).
    */
  private val SpreadSteps: Seq[(Int, Long)] = Seq(
    8 -> 0x00FF00FFL, 4 -> 0x0F0F0F0FL, 2 -> 0x33333333L,
    1 -> 0x55555555L)

  private def spread16(c: Column): Column =
    SpreadSteps.foldLeft(c) { case (v, (s, m)) =>
      v.bitwiseOR(shiftleft(v, s)).bitwiseAND(lit(m))
    }

  /** 32-bit Morton (Z-order) key of two coordinates, each quantized to
    * its low 16 bits. For domains wider than 2^16, quantize to a
    * 65536-cell grid first (`pmod`/width-division) — footer-stat
    * pruning only needs the curve locality, not full precision.
    * BIGINT arithmetic throughout: ANSI-safe, no overflow possible.
    */
  def zkey(x: Column, y: Column): Column =
    spread16(x.cast("bigint").bitwiseAND(lit(65535L)))
      .bitwiseOR(shiftleft(
        spread16(y.cast("bigint").bitwiseAND(lit(65535L))), 1))

  private def spread16Sql(e: String): String = {
    var v = s"((($e)::BIGINT) & 65535)"
    for ((s, m) <- SpreadSteps) v = s"(($v | ($v << $s)) & $m)"
    v
  }

  /** DuckDB twin of [[zkey]] — the same shift/mask ladder inline. */
  def zkeySql(x: String, y: String): String =
    s"(${spread16Sql(x)} | (${spread16Sql(y)} << 1))"

  /** Generic d-dimensional Morton key: bit `i` of coordinate `j` lands
    * at position `i*d + j`; `bits*d` must stay under 63 (BIGINT, no
    * sign bit). The per-bit select-shift form trades the 2-d mask
    * ladder's O(log b) ops for O(b) — still pure codegen'd integer
    * arithmetic, and textually mirrorable in any SQL engine, which is
    * what makes d-dim clustering hash-checkable end to end. Quantize
    * coordinates wider than `bits` first (shift/divide, NOT modulo —
    * modulo destroys curve locality).
    */
  def zkeyN(cols: Seq[Column], bits: Int = 16): Column = {
    val d = cols.size
    require(d >= 1 && bits * d <= 63, s"$bits bits x $d dims > 63")
    // Same per-bit semantics as the documented select-shift tree, but
    // as ONE codegen'd expression (a static loop per coordinate): the
    // O(bits*d)-node Column form cost ~10x the whole clustered write
    // at the 6M-row bench scale, because a range-clustered write
    // evaluates the key in the sampler, the exchange and the sort.
    // LayoutSpec pins bit-equality of the two forms.
    graft.functions.VectorFunctions.morton_key(cols, bits)
  }

  /** The reference Column-tree form of [[zkeyN]] — kept as the
    * executable spec the codegen'd expression is pinned against.
    */
  private[graft] def zkeyNTree(cols: Seq[Column], bits: Int = 16): Column = {
    val d = cols.size
    require(d >= 1 && bits * d <= 63, s"$bits bits x $d dims > 63")
    cols.zipWithIndex.map { case (c, j) =>
      val v = c.cast("bigint").bitwiseAND(lit((1L << bits) - 1))
      (0 until bits).map { i =>
        shiftleft(shiftright(v, i).bitwiseAND(lit(1L)), i * d + j)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
  }

  /** DuckDB twin of [[zkeyN]] — the identical per-bit select-shifts. */
  def zkeyNSql(exprs: Seq[String], bits: Int = 16): String = {
    val d = exprs.size
    exprs.zipWithIndex.map { case (e, j) =>
      val v = s"((($e)::BIGINT) & ${(1L << bits) - 1})"
      "(" + (0 until bits)
        .map(i => s"((($v >> $i) & 1) << ${i * d + j})")
        .mkString(" | ") + ")"
    }.mkString("(", " | ", ")")
  }

  /** Parquet writer options enabling NATIVE bloom filters on `cols`
    * (split-block blooms in the file footer, sized for `ndv` distinct
    * values ≈ 1% fpp). The layering at 100 TB: manifest min/max
    * ranges prune FILES at plan time from one metadata read; footer
    * blooms then prune ROW GROUPS inside surviving files on `=` / `IN`
    * point predicates — exactly the lookups range stats are weakest
    * on (high-cardinality keys scattered across the range). Spark's
    * vectorized reader consumes them automatically for pushed
    * equality filters; no read-side code is needed
    * (BloomFilterSpec probes the footers directly to pin the write).
    */
  def bloomOptions(cols: Seq[String],
      ndv: Long = 100000L): Map[String, String] =
    cols.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)).toMap

  /** Write `df` clustered along the Morton curve of (xCol, yCol):
    * range-partition by the Z-key into `nFiles` files, sort within
    * each. The range shuffle is the one-time clustering cost (same
    * O(n log n) as any global sort); every file then covers a compact
    * curve segment, i.e. a small rectangle in (x, y) space, so its
    * parquet footer min/max on BOTH columns is tight.
    */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String,
      outDir: String, nFiles: Int = 32): Unit = {
    df.withColumn("zkey", zkey(col(xCol), col(yCol)))
      .repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(outDir)
    // commit the manifest with it: later rectangle queries plan their
    // file list from ONE metadata read instead of #files footer opens
    Manifest.create(df.sparkSession, outDir, Seq(xCol, yCol, "zkey"))
  }

  /** Rectangle query over a (possibly clustered) lineitem projection:
    * both between-predicates reach the parquet scan as pushed filters,
    * so on a Z-ordered layout most files prune by footer stats alone.
    * Results are layout-independent — the oracle runs on the raw
    * table.
    */
  def zorderRect(lay: DataFrame, xLo: Int, xHi: Int, yLo: Int,
      yHi: Int): DataFrame =
    lay.filter(col("l_partkey").between(xLo, xHi) &&
        col("l_suppkey").between(yLo, yHi))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("zkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** [[zorderRect]] planned THROUGH the layout's manifest: files whose
    * recorded (x, y) ranges miss the rectangle are never opened — at
    * 100 TB that is the difference between one small metadata read and
    * tens of thousands of parquet footer round trips before the scan
    * even starts. Row-group pruning inside the surviving files still
    * applies (the predicates stay pushed). Falls back to the plain
    * directory read when the layout has no manifest.
    */
  def zorderRectManifest(spark: SparkSession, dir: String, xLo: Int,
      xHi: Int, yLo: Int, yHi: Int): DataFrame =
    zorderRect(Manifest.readPruned(spark, dir, Seq(
      ("l_partkey", xLo.toLong, xHi.toLong),
      ("l_suppkey", yLo.toLong, yHi.toLong))), xLo, xHi, yLo, yHi)

  def zorderRectOracle(xLo: Int, xHi: Int, yLo: Int, yHi: Int): String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  ${zkeySql("l_partkey", "l_suppkey")} AS zkey
       |FROM lineitem
       |WHERE l_partkey BETWEEN $xLo AND $xHi
       |  AND l_suppkey BETWEEN $yLo AND $yHi
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------- //
  // 3-d clustering: (l_partkey, l_suppkey, l_orderkey >> shift).

  /** Orderkey quantization for the 3-d curve: a right-shift keeps
    * curve locality (unlike modulo) and holds the quantized domain
    * within 16 bits through sf0.1; at larger scales the shift grows
    * with the table's max — the manifest records true ranges either
    * way, so pruning never depends on the quantization being tight.
    */
  val ZcurveOrderShift = 4

  def zkey3: Column = zkeyN(Seq(col("l_partkey"), col("l_suppkey"),
    shiftright(col("l_orderkey"), ZcurveOrderShift)))

  def zkey3Sql: String = zkeyNSql(Seq("l_partkey", "l_suppkey",
    s"l_orderkey >> $ZcurveOrderShift"))

  /** Shift a coordinate so its most significant bit lands at bit 15:
    * an interleave over dims of very different magnitudes otherwise
    * degenerates (the wide dim's high bits dominate the key and the
    * narrow dim varies only inside tiny cells — no locality for it).
    * Pure power-of-two shifts: monotone, so per-file min/max ranges
    * on the RAW columns stay exactly as tight.
    */
  private def normalizeBits(c: Column, maxVal: Long, bits: Int): Column = {
    val width = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxVal))
    if (width >= bits) shiftright(c.cast("bigint"), width - bits)
    else shiftleft(c.cast("bigint"), bits - width)
  }

  private def normalize16(c: Column, maxVal: Long): Column =
    normalizeBits(c, maxVal, 16)

  /** Write `df` clustered along the 3-d Morton curve — one range
    * shuffle, after which every file covers a small BOX in
    * (partkey, suppkey, orderkey) space and the manifest's per-file
    * ranges are tight on ALL THREE dimensions.
    *
    * The CLUSTERING key normalizes each dim to the full 16-bit grid
    * (one O(1)-row max() job supplies the widths — the collected-
    * scalar pattern); the STORED `zkey3` stays the fixed formula the
    * oracle mirrors textually, so parity never depends on data-derived
    * scale factors.
    */
  def zcurve3Write(df: DataFrame, outDir: String, nFiles: Int = 32): Unit = {
    val mx = df.agg(max(col("l_partkey")).cast("long"),
      max(col("l_suppkey")).cast("long"),
      max(col("l_orderkey")).cast("long")).head()
    val clusterKey = zkeyN(Seq(
      normalize16(col("l_partkey"), mx.getLong(0)),
      normalize16(col("l_suppkey"), mx.getLong(1)),
      normalize16(col("l_orderkey"), mx.getLong(2))))
    df.withColumn("zkey3", zkey3)
      .withColumn("_ck", clusterKey)
      .repartitionByRange(nFiles, col("_ck"))
      .sortWithinPartitions("_ck")
      .drop("_ck")
      .write.mode("overwrite").parquet(outDir)
    Manifest.create(df.sparkSession, outDir,
      Seq("l_partkey", "l_suppkey", "l_orderkey"))
  }

  /** 3-d box query; results layout-independent (oracle on raw table). */
  def zcurve3Rect(lay: DataFrame, xLo: Int, xHi: Int, yLo: Int, yHi: Int,
      oLo: Int, oHi: Int): DataFrame =
    lay.filter(col("l_partkey").between(xLo, xHi) &&
        col("l_suppkey").between(yLo, yHi) &&
        col("l_orderkey").between(oLo, oHi))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("zkey3"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** [[zcurve3Rect]] planned through the manifest: one metadata read
    * prunes on all three range predicates before any file opens.
    */
  def zcurve3RectManifest(spark: SparkSession, dir: String, xLo: Int,
      xHi: Int, yLo: Int, yHi: Int, oLo: Int, oHi: Int): DataFrame =
    zcurve3Rect(Manifest.readPruned(spark, dir, Seq(
      ("l_partkey", xLo.toLong, xHi.toLong),
      ("l_suppkey", yLo.toLong, yHi.toLong),
      ("l_orderkey", oLo.toLong, oHi.toLong))),
      xLo, xHi, yLo, yHi, oLo, oHi)

  def zcurve3RectOracle(xLo: Int, xHi: Int, yLo: Int, yHi: Int,
      oLo: Int, oHi: Int): String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  $zkey3Sql AS zkey3
       |FROM lineitem
       |WHERE l_partkey BETWEEN $xLo AND $xHi
       |  AND l_suppkey BETWEEN $yLo AND $yHi
       |  AND l_orderkey BETWEEN $oLo AND $oHi
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Write `df` clustered along the 2-d HILBERT curve of (xCol, yCol)
    * — same one-time range shuffle as [[zorderWrite]], better worst-
    * case locality: Hilbert has no Morton "seam" jumps, so file boxes
    * are slightly tighter on adversarial rectangles. The key itself is
    * a codegen'd custom expression (the per-level rotate/reflect fold
    * is not expressible as a bounded Column tree); it stays OUT of the
    * stored schema so query results remain layout-independent.
    */
  def hilbertWrite(df: DataFrame, xCol: String, yCol: String,
      outDir: String, nFiles: Int = 32): Unit = {
    df.withColumn("hkey",
        graft.functions.VectorFunctions.hilbert_key(col(xCol), col(yCol)))
      .repartitionByRange(nFiles, col("hkey"))
      .sortWithinPartitions("hkey")
      .drop("hkey")
      .write.mode("overwrite").parquet(outDir)
    Manifest.create(df.sparkSession, outDir, Seq(xCol, yCol))
  }

  /** Rectangle over a Hilbert-clustered lineitem copy, manifest-
    * planned; no curve key in the output, so the oracle is the plain
    * raw-table rectangle.
    */
  def hilbertRect(spark: SparkSession, dir: String, xLo: Int, xHi: Int,
      yLo: Int, yHi: Int): DataFrame = {
    val src = Manifest.readPruned(spark, dir, Seq(
      ("l_partkey", xLo.toLong, xHi.toLong),
      ("l_suppkey", yLo.toLong, yHi.toLong)))
    src.filter(col("l_partkey").between(xLo, xHi) &&
        col("l_suppkey").between(yLo, yHi))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  def hilbertRectOracle(xLo: Int, xHi: Int, yLo: Int, yHi: Int): String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
       |FROM lineitem
       |WHERE l_partkey BETWEEN $xLo AND $xHi
       |  AND l_suppkey BETWEEN $yLo AND $yHi
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Compact a `partition=value`-laid-out parquet directory: merge
    * each partition dir's files into ceil(bytes / targetBytes) outputs
    * via coalesce (no shuffle — rows never cross the network). Returns
    * (filesBefore, filesAfter). The compacted tree keeps the
    * `source=...` dir names, so a read of `outDir` recovers the
    * partition column unchanged.
    */
  def compactShards(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20,
      statCols: Seq[String] = Nil): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new Path(inDir)
    val fs = in.getFileSystem(conf)
    val parts = fs.listStatus(in).filter(s =>
      s.isDirectory && s.getPath.getName.contains("=")).map(_.getPath)
    // per-partition merges are independent Spark jobs; submit them
    // concurrently (bounded pool) — a serial driver loop pays
    // per-job latency x #partitions, which dominates wall once the
    // table has hundreds of partition dirs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, parts.length)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val merges = parts.sortBy(_.getName).toSeq.map { part =>
        scala.concurrent.Future {
          val files = fs.listStatus(part)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          val bytes = files.map(_.getLen).sum
          val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          spark.read.parquet(part.toString).coalesce(n)
            .write.mode("overwrite")
            .parquet(s"$outDir/${part.getName}")
          (files.length, n)
        }
      }
      val done = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(merges),
        scala.concurrent.duration.Duration(30, "min"))
      // commit the manifest BEFORE the _SUCCESS marker: a create-once
      // caller that sees _SUCCESS must also see a complete manifest
      Manifest.create(spark, outDir, statCols)
      fs.create(new Path(s"$outDir/_SUCCESS"), true).close()
      // report files actually WRITTEN, not the coalesce target:
      // coalesce cannot increase partition count, so a dir with fewer
      // input splits than ceil(bytes/target) writes fewer files
      val written = fs.listStatus(new Path(outDir))
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(d => fs.listStatus(d.getPath))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      (done.map(_._1).sum, written)
    } finally pool.shutdown()
  }

  /** Copy-on-write delete: remove rows matching `pred` from a parquet
    * directory by rewriting ONLY the files that contain a match.
    *
    * Phase 1 finds affected files with a filter + `input_file_name()`
    * distinct — the same pushed-predicate footer pruning that
    * accelerates reads means most files are skipped without being
    * scanned, and the collect is bounded by #files, never rows.
    * Phase 2 rewrites the affected files' survivors as one
    * distributed job (no shuffle — filter + write). Untouched files
    * are carried over byte-for-byte; a production table format
    * (manifest-based) would RETAIN them as metadata-only no-ops — the
    * scale claim is that rewritten bytes are proportional to AFFECTED
    * files, not table size, and DeleteSpec measures exactly that.
    * Returns (affectedFiles, totalFiles).
    */
  def deleteRewrite(spark: SparkSession, inDir: String, outDir: String,
      pred: Column, statCols: Seq[String] = Nil): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(inDir).getFileSystem(conf)
    // the source manifest makes the commit incremental: carried files'
    // entries transfer verbatim (metadata-only), only rewritten output
    // files are re-statted
    val srcEntries = Manifest.ensure(spark, inDir, statCols)
    val all = fs.listStatus(new Path(inDir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    // match by basename: part-file names are unique within a dir, and
    // input_file_name()'s URI scheme rendering (file:/// vs file:/)
    // need not match Path.toString
    val affected = spark.read.parquet(inDir).filter(pred)
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => r.getString(0).split('/').last).toSet
    val (hit, kept) = all.partition(p => affected.contains(p.getName))
    if (hit.nonEmpty)
      // survivors = rows NOT matching: a NULL predicate must RETAIN
      // the row (bare !pred is NULL for it and filter would drop it,
      // silently deleting rows phase 1 never matched)
      spark.read.parquet(hit.map(_.toString).toIndexedSeq: _*)
        .filter(!coalesce(pred, lit(false)))
        .write.mode("overwrite").parquet(outDir)
    else
      fs.mkdirs(new Path(outDir))
    // carried (untouched) files are byte-for-byte copies executed as a
    // DISTRIBUTED job over the file list: each executor copies its
    // slice through the shared FileSystem, so no table byte ever flows
    // through the driver JVM — a 1%-selective export delete at 100 TB
    // would otherwise funnel ~99% of the table through one NIC. (The
    // in-place and merge-on-read verbs remain the metadata-only forms;
    // this export verb inherently pays O(table) bytes, but pays them
    // cluster-wide.)
    if (kept.nonEmpty) {
      val bcConf = spark.sparkContext.broadcast(
        new graft.util.SerializableHadoopConf(conf))
      val pairs = kept.toSeq.map(p =>
        (p.toString, s"$outDir/carry-${p.getName}"))
      spark.sparkContext
        .parallelize(pairs, math.min(pairs.size, 64))
        .foreach { case (src, dst) =>
          val c = bcConf.value.value
          val sp = new Path(src)
          org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(c), sp,
            new Path(dst).getFileSystem(c), new Path(dst), false, c)
        }
    }
    // incremental manifest commit: carried entries are copied forward
    // with their stats untouched (no data read); only the survivor
    // files Spark just wrote get a stats pass. Version bumps over the
    // source's — the versioned-snapshot + CURRENT-swap protocol.
    val keptNames = kept.map(_.getName).toSet
    val carriedEntries = srcEntries
      .filter(e => keptNames.contains(e.name))
      .map(e => e.copy(name = s"carry-${e.name}"))
    val rewrittenNames = fs.listStatus(new Path(outDir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("carry-"))
      .map(_.getPath.getName).toSeq
    val rewrittenEntries =
      Manifest.scanStats(spark, outDir, statCols, Some(rewrittenNames))
    Manifest.write(spark, outDir,
      (carriedEntries ++ rewrittenEntries).sortBy(_.name),
      Manifest.currentVersion(spark, inDir).getOrElse(0) + 1)
    fs.create(new Path(s"$outDir/_SUCCESS"), true).close()
    (hit.length, all.length)
  }

  /** Partition columns of a file set, recovered from the entries' own
    * k=v path segments.
    */
  private def partColsOf(entries: Seq[ManifestEntry]): Seq[String] =
    entries.headOption.toSeq.flatMap(_.name.split('/').dropRight(1)
      .filter(_.contains("=")).map(_.split("=")(0)).toSeq)

  private def parentOf(name: String): String =
    name.split('/').dropRight(1).mkString("/")

  /** Field-metadata key marking a recorded-schema column as a
    * PARTITION column — how a `CREATE TABLE ... PARTITIONED BY`
    * through the SQL catalog declares layout before any file exists.
    */
  val PartitionMetaKey = "graft.partition"

  /** Field-metadata key marking a recorded-schema column as the
    * table's CLUSTER key: every commit records the column's min/max in
    * each new file's entry, a batch write hash-partitions on it and
    * sorts each file by it (so a small batch lands as one file per
    * partition directory), and compaction range-partitions merged
    * files on it. Readers prune files by the recorded ranges, not by
    * directory — the layout of the standing indexes, whose keys are
    * hashes that a Hive partition column would scatter over one
    * directory per bucket.
    */
  val ClusterMetaKey = "graft.cluster"

  /** `ddl` as a StructType whose `marks` columns carry their boolean
    * field-metadata marker ([[PartitionMetaKey]] or [[ClusterMetaKey]]):
    * the schema a derived table records at its v1, so an EMPTY table
    * still declares its layout to the first append.
    */
  private[graft] def markColumns(ddl: String,
      marks: (String, String)*): StructType =
    StructType(StructType.fromDDL(ddl).fields.map { f =>
      marks.collectFirst { case (c, key) if c == f.name => key }
        .fold(f)(key => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putBoolean(key, true).build()))
    })

  /** Write the first files of a clustered table at `dir`, replacing
    * whatever it held: `df` range-partitioned on the partition columns
    * and `cluster`, and sorted by them, so each file covers a disjoint
    * key range. Returns the entries (with `cluster`'s range) for the
    * caller's v1 commit.
    */
  private[ops] def writeClustered(spark: SparkSession, dir: String,
      df: DataFrame, partCols: Seq[String],
      cluster: String): Seq[ManifestEntry] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val keys = (partCols :+ cluster).map(col)
    TableFiles.write(spark, dir, dir,
      df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*),
      partCols, "build", Seq(cluster))
  }

  /** The cluster column of `dir`'s current schema, by its physical
    * name.
    */
  private def clusterColOf(spark: SparkSession,
      dir: String): Option[String] =
    Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .flatMap(_.fields.find(_.metadata.contains(ClusterMetaKey)))
      .map(Manifest.physNameOf)

  /** Partition columns for a write: recovered from existing file paths
    * when the table has files, else from the recorded schema's
    * partition metadata (an EMPTY declared-partitioned table must
    * still write its first batch Hive-partitioned).
    */
  private[graft] def partColsFor(spark: SparkSession, dir: String,
      entries: Seq[ManifestEntry]): Seq[String] = {
    val fromPaths = partColsOf(entries)
    if (fromPaths.nonEmpty) fromPaths
    else Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .map(_.fields.filter(f => f.metadata.contains(PartitionMetaKey))
        .map(_.name).toSeq)
      .getOrElse(Nil)
  }

  /** Align `batch` to the table for a write verb, with ADD-COLUMN
    * schema evolution: every existing table column must be present in
    * the batch (a missing one is a HARD error — a silent column drop
    * on the write path is the one bug class the read-side oracle can
    * never see), and extra batch columns EVOLVE the schema. New data
    * files carry the extra columns; old files NULL-backfill them at
    * read through the snapshot's recorded schema
    * ([[Manifest.tableSchema]]), exactly as Delta/Iceberg add-column.
    * Returns (aligned batch, evolved schema to record — `None` when
    * the batch matches the table, letting the commit carry the prior
    * schema forward).
    */
  private def alignForWrite(spark: SparkSession, dir: String,
      entries: Seq[ManifestEntry], batch: DataFrame,
      partCols: Seq[String]): (DataFrame, Option[StructType]) = {
    // the RECORDED schema is authoritative when present: after an
    // add-column it carries columns old files lack, and after a
    // drop-column the files still carry columns the table no longer
    // has — the physical file schema is right in neither case
    val fileSchema: Option[StructType] =
      Manifest.currentVersion(spark, dir)
        .flatMap(Manifest.tableSchema(spark, dir, _))
        .map(s => StructType(s.fields.filterNot(f =>
          partCols.contains(f.name))))
        .orElse(entries.headOption.map(e =>
          spark.read.parquet(s"$dir/${e.name}").schema))
    val fileFields = fileSchema.getOrElse(
      throw new IllegalStateException(
        s"table $dir is empty and has no recorded schema — cannot " +
          "align a write batch")).fields.toSeq
    val fileCols = fileFields.map(_.name)
    val tableCols = fileCols ++ partCols
    val missing = tableCols.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"schema mismatch: batch is missing table column(s) " +
        s"${missing.mkString(", ")} of $dir")
    val extras = batch.columns.toSeq.filterNot(tableCols.contains)
    // an auto-evolved extra whose name equals an existing field's
    // PHYSICAL name (left behind by renameColumn) would stage files —
    // and commit a schema — with two same-named physical columns,
    // bricking every schema-driven read after a successful commit
    extras.foreach { x =>
      fileFields.find(f => f.name != x && Manifest.physNameOf(f) == x)
        .foreach(c => throw new IllegalArgumentException(
          s"cannot evolve new column '$x' into $dir: existing column " +
            s"'${c.name}' still writes under physical name '$x' " +
            "(renamed columns keep their original physical name) — " +
            "pick a different name"))
    }
    // EXISTING columns are cast to the table's own types: a batch
    // carrying a narrower type (INT ids into a BIGINT table) would
    // otherwise stage files whose physical type silently drifts from
    // the recorded schema and poison later schema-driven reads.
    // Metadata rides along so an evolved schema keeps its column
    // mapping; staged files carry PHYSICAL names (a renamed column
    // writes under its original name, like every file before it).
    val logical = fileFields.map(f => col(f.name).cast(f.dataType)
      .as(f.name, f.metadata))
    val aligned = batch.select(
      (logical ++ extras.map(col) ++ partCols.map(col)): _*)
    val staged =
      if (fileFields.forall(f => Manifest.physNameOf(f) == f.name)) aligned
      else aligned.select(
        (fileFields.map(f => col(f.name).as(Manifest.physNameOf(f))) ++
          extras.map(col) ++ partCols.map(col)): _*)
    (staged, if (extras.isEmpty) None else Some(aligned.schema))
  }

  /** Stats for the connector's staged files once landed, dropping
    * zero-row ones on the spot: an empty parquet file gets no stats
    * entry (scanStats sees no rows), would never be referenced by the
    * snapshot, and only lingers as dead weight for vacuum to
    * misattribute. (Files the verbs write come with their entries.)
    */
  private def statStaged(spark: SparkSession, dir: String,
      statCols: Seq[String], staged: Seq[String]): Seq[ManifestEntry] = {
    if (staged.isEmpty) return Nil
    val entries = Manifest.scanStats(spark, dir, statCols, Some(staged))
    val live = entries.map(_.name).toSet
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    staged.filterNot(live.contains)
      .foreach(n => fs.delete(new Path(s"$dir/$n"), false))
    entries
  }

  // ── The commit primitive ────────────────────────────────────────────
  //
  // Every write verb below computes only WHAT it changes — the files it
  // adds and removes, what becomes of the deletion vector, its change
  // record, schema and counter deltas — as a [[Change]], and
  // [[commit]] alone runs the protocol around it: pin the base, the
  // replay check, the claim (before any side write), landing staged
  // dot-files, the vector carry, the change record, the snapshot write
  // and the auto-flush gate. Verbs write their files through the
  // claim ([[Claimed.write]]): tasks write them in place under final
  // names and report their entries, so no commit stages, renames,
  // lists or re-opens a file it wrote.

  /** The snapshot a commit builds on. Verbs that restate the file list
    * pin it whole (`entries`); O(delta) verbs pin the chunk list plus
    * one sample entry and carry the chunks by reference.
    */
  private final class Base(spark: SparkSession, dir: String,
      val version: Int, val chunks: Seq[Manifest.ChunkRef],
      val entries: Option[Seq[ManifestEntry]],
      val head: Option[ManifestEntry]) {
    /** Every live file's entry, sorted by name: the scan list. */
    lazy val files: Seq[ManifestEntry] = entries.getOrElse(
      Manifest.readVersion(spark, dir, version).getOrElse(Nil))
    def names: Seq[String] = files.map(_.name)
    def listed: Seq[ManifestEntry] = entries.get
  }

  /** What a commit does to the base version's deletion vector. */
  private sealed trait DvAction
  /** Carry it, minus the marks of removed files (they die with them). */
  private case object DvCarry extends DvAction
  /** Drop it: the commit applied or superseded every mark. */
  private case object DvDrop extends DvAction
  /** Carry it and add the not-yet-set (file, pos) pairs of `marks`. */
  private case class DvMarks(marks: DataFrame) extends DvAction

  /** One commit's content. `added` are the entries of the files the
    * verb wrote ([[Claimed.write]]; files the caller passed as
    * dot-files are landed and added by [[commit]] itself); `removed`
    * leave the snapshot; `cdc` builds the change record from what the
    * commit wrote.
    */
  private case class Change(
      added: Seq[ManifestEntry] = Nil,
      removed: Set[String] = Set.empty,
      dv: DvAction = DvCarry,
      cdc: Option[Written => DataFrame] = None,
      schema: Option[StructType] = None,
      metaDelta: () => Option[Map[String, Long]] = () => None)

  /** What a commit wrote, for its change record: the added files'
    * entries (zero-row files already dropped) and the marks it newly
    * set, as (file, pos).
    */
  private case class Written(added: Seq[ManifestEntry], marks: DataFrame,
      markRows: Long)

  /** A commit under its claim: the base, the version being written, the
    * names the caller's staged dot-files landed as, and the table's
    * cluster column.
    */
  private final class Claimed(spark: SparkSession, dir: String,
      val base: Base, val version: Int, claim: String,
      statCols: Seq[String], val landed: Seq[String],
      val cluster: Option[String]) {
    /** Write `df` (physical names, carrying `partCols`) as new files of
      * the table — `<prefix>-<claim id>-<task>-<attempt>-<n>.parquet`
      * in their partition directories, or in partition directory
      * `sub` — and return their entries.
      */
    def write(df: DataFrame, partCols: Seq[String], prefix: String,
        sub: String = ""): Seq[ManifestEntry] =
      TableFiles.write(spark, dir, if (sub.isEmpty) dir else s"$dir/$sub",
        df, partCols, s"$prefix-${claim.take(8)}", physStats,
        partTypes)

    // stat ranges key on PHYSICAL names, like every file's columns
    private lazy val physStats = Manifest.physicalNames(spark, dir, statCols)
    private lazy val partTypes = Manifest.tableSchema(spark, dir,
      base.version).map(Manifest.physicalSchema).getOrElse(new StructType())
  }

  /** A landed commit: its base, the entries it added, how many it
    * removed, and the deletion vector's mark count.
    */
  private case class Done(base: Base, added: Seq[ManifestEntry],
      removed: Int, marked: Long)

  /** Commit version base + 1 of `dir`: the one write path every verb
    * takes. `listed` pins the full entry list (else the chunk list);
    * `txn`/`txnApp` make the commit exactly-once — a replay is a no-op
    * (None) that deletes `staged`. The claim is taken before any side
    * write, so a lost race leaves nothing another writer's version
    * could appear to own; `staged` dot-files then land as
    * `<landAs>-v{K}-<claim id>-<i>.parquet` beside their partition's
    * files (the claim id makes two writers' names distinct even across
    * a lease takeover), and `change` computes the rest under the claim.
    * On any failure before the snapshot lands, landed files are removed
    * and the claim is given back.
    */
  private def commit(spark: SparkSession, dir: String,
      statCols0: Seq[String], listed: Boolean = false,
      txn: Option[Long] = None, txnApp: Option[(String, Long)] = None,
      staged: Seq[String] = Nil, landAs: String = "append")(
      change: Claimed => Change): Option[Done] = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (isReplay(spark, dir, txn, txnApp)) {
      staged.foreach(p => fs.delete(new Path(p), false))
      return None
    }
    // a clustered table's new files always carry their key range
    val cluster = clusterColOf(spark, dir)
    val statCols = (statCols0 ++ cluster).distinct
    val base =
      if (listed) {
        val (v, es) = Manifest.ensureVersioned(spark, dir, statCols)
        new Base(spark, dir, v, Nil, Some(es), es.headOption)
      } else {
        val (v, chunks, head) =
          Manifest.ensureVersionedDelta(spark, dir, statCols)
        new Base(spark, dir, v, chunks, None, head)
      }
    val k = base.version + 1
    val claim = Manifest.claimVersion(spark, dir, k)
    val landed = scala.collection.mutable.ArrayBuffer.empty[Path]
    val (done, marking) = try {
      val names = staged.sorted.zipWithIndex.map { case (p, i) =>
        val sub = parentOf(Manifest.relativize(spark, dir, new Path(p)))
        val tgt = (if (sub.isEmpty) "" else s"$sub/") +
          s"$landAs-v$k-${claim.take(8)}-$i.parquet"
        require(fs.rename(new Path(p), new Path(s"$dir/$tgt")),
          s"staged file $p failed to land as $tgt")
        landed += new Path(s"$dir/$tgt")
        tgt
      }
      val c = change(new Claimed(spark, dir, base, k, claim, statCols, names,
        cluster))
      val marking = c.dv.isInstanceOf[DvMarks]
      val added = (statStaged(spark, dir, statCols, names) ++ c.added)
        .sortBy(_.name)
      // the vector: a crashed claim's orphan must not merge into it
      val dvNew = new Path(Manifest.dvDir(dir, k))
      fs.delete(dvNew, true)
      val carried =
        if (c.dv == DvDrop) None
        else carryDv(spark, dir, base.version, k, c.removed)
      // new marks are written beside the carry until the change record
      // has read them, then move into its `file=` dirs (pure renames)
      val dvTmp = new Path(s"$dvNew.tmp")
      val (marked, newMarks, parts, newRows) = c.dv match {
        case DvMarks(marks) =>
          val old = Manifest.dvMarks(spark, dir, base.version)
          fs.delete(dvTmp, true)
          val parts = TableFiles.write(spark, dvTmp.toString,
            dvTmp.toString, marks.join(old, Seq("file", "pos"), "left_anti")
              .repartition(col("file")), Seq("file"),
            s"dv-v$k-${claim.take(8)}", Nil)
          val rows = parts.map(_.rows).sum
          (Some(carried.getOrElse(0L) + rows),
            Manifest.readDv(spark, dvTmp.toString,
              parts.map(e => (e.name, e.bytes))), parts.map(_.name), rows)
        case _ => (carried, Manifest.noMarks(spark), Nil, 0L)
      }
      c.cdc.foreach(f => Manifest.recordCdc(spark, dir, k,
        f(Written(added, newMarks, newRows))))
      if (marking) Manifest.moveDvDelta(spark, dir, k, dvTmp, parts)
      // a commit that leaves zero marks installs no (empty) vector
      marked match {
        case Some(0L) => fs.delete(dvNew, true): Unit
        case Some(n) if marking => Manifest.stampDvCount(spark, dir, k, n)
        case _ => ()
      }
      // a listed base restates its list as fresh chunks; a chunked one
      // carries its chunks by reference and writes only the delta
      val (chunks, entries) = base.entries match {
        case Some(es) => (Nil, (es.filterNot(e =>
          c.removed.contains(e.name)) ++ added).sortBy(_.name))
        case None => (base.chunks, added)
      }
      Manifest.writeChunkedDelta(spark, dir, k, chunks, c.removed,
        Seq(entries), txn, claim, c.schema, txnApp, c.metaDelta)
      (Done(base, added, c.removed.size, marked.getOrElse(0L)), marking)
    } catch { case e: Throwable =>
      // Spark does not call abort() after a failed driver commit —
      // remove already-landed final-looking files so a lost race
      // leaves nothing the next listing or vacuum could mistake for
      // committed data
      landed.foreach(p => try fs.delete(p, false) catch {
        case _: java.io.IOException => ()
      })
      Manifest.releaseClaim(spark, dir, k, claim)
      throw e
    }
    // AUTO-FLUSH policy: past a marks-to-rows ratio the per-read
    // skip/anti-join work outweighs rewriting the marked files, and
    // an unbounded vector is exactly what makes any DV read path
    // dangerous at scale — flush immediately (its own commit), so
    // sustained delete workloads keep mark counts bounded without
    // manual maintenance. 0 disables; OPTIMIZE also consumes marks
    // inline for files it rewrites.
    if (marking) {
      val flushRatio = spark.conf.getOption("spark.graft.dv.autoFlushRatio")
        .map(_.toDouble).getOrElse(0.10)
      val rows = base.files.map(_.rows).sum
      if (flushRatio > 0 && rows > 0 && done.marked > flushRatio * rows)
        flushDeleteVectors(spark, dir, statCols)
    }
    Some(done)
  }

  /** Carry version `from`'s deletion vector to `to` — a filesystem
    * copy, no Spark job — minus the `file=` directories of `removed`
    * data files, matched through Spark's own partition-path unescaping
    * (the directory names are the escaped file keys). Returns the
    * carried mark count, the `_COUNT` sidecar less the dropped
    * directories' footer rows; None when `from` has no vector.
    *
    * The vector stays KEYED BY DATA FILE (Hive partitionBy) so a scan
    * task loads exactly its own file's positions — O(own marks) per
    * reader, never the whole table's vector through the driver.
    */
  private def carryDv(spark: SparkSession, dir: String, from: Int,
      to: Int, removed: Set[String]): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(Manifest.dvDir(dir, from))
    val dst = new Path(Manifest.dvDir(dir, to))
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) return None
    val n = Manifest.dvCountOf(spark, dir, from).getOrElse(
      throw new IllegalStateException(
        s"deletion vector $src has no ${Manifest.DvCountFile} sidecar"))
    if (removed.isEmpty) {
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, true, conf)
      return Some(n)
    }
    fs.mkdirs(dst)
    var dropped = 0L
    fs.listStatus(src).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("file=") && removed.contains(
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(name.stripPrefix("file="))))
        dropped += parquetRowsUnder(spark, st.getPath)
      else org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new Path(dst, name), false, true, conf): Unit
    }
    Manifest.stampDvCount(spark, dir, to, n - dropped)
    Some(n - dropped)
  }

  /** Exact row count of the parquet part files under `dir`, off their
    * FOOTERS — driver metadata reads, the [[Manifest.scanStats]]
    * fast-path pattern. Counts a carried vector's dropped directories
    * without a count job; they are O(removed files) by construction.
    */
  private def parquetRowsUnder(spark: SparkSession, dir: Path): Long = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    val conf = spark.sparkContext.hadoopConfiguration
    var n = 0L
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            f.getPath, conf))
        n += (try rd.getRecordCount finally rd.close())
      }
    }
    n
  }

  /** Replay decision for an exactly-once commit. App-scoped when the
    * writer declared (or was defaulted) a txnAppId. On the GLOBAL
    * single-writer path a batch EQUAL to the watermark is a true
    * crash re-delivery (foreachBatch only ever re-delivers the last
    * committed id) and no-ops; a batch BEHIND the watermark belongs
    * to a DIFFERENT stream — e.g. a fresh checkpoint restarting at
    * epoch 0 against a table already carrying txn=N — and failing
    * loudly beats silently dropping its first N+1 batches.
    */
  private def isReplay(spark: SparkSession, dir: String,
      txn: Option[Long], txnApp: Option[(String, Long)]): Boolean =
    txnApp match {
      case Some((app, n)) =>
        Manifest.lastTxnFor(spark, dir, app).exists(_ >= n)
      case None =>
        txn.exists { t =>
          Manifest.lastTxn(spark, dir) match {
            case Some(last) if t == last => true
            case Some(last) if t < last =>
              throw new IllegalStateException(
                s"batch $t is behind $dir's global txn watermark $last " +
                  "— a different stream (fresh checkpoint?) appears to " +
                  "be writing without a txnAppId; scope replays with " +
                  "txnAppId/appId instead of silently dropping batches")
            case _ => false
          }
        }
    }

  /** An empty change record: the explicit "this commit changed no
    * logical row (of this kind)" that spares the feed a diff fallback.
    */
  private def noChange(spark: SparkSession, dir: String,
      kind: String = "insert"): DataFrame =
    Manifest.readTable(spark, dir).filter(lit(false))
      .withColumn("_change_type", lit(kind))

  /** A table's two column views under its current recorded schema:
    * `logical` names (what callers and predicates use) over a frame
    * read from files, `physical` names (what files carry — a renamed
    * column keeps its original name) over a frame about to be staged.
    */
  private final class View(schema: Option[StructType]) {
    def logical(df: DataFrame): DataFrame =
      schema.map(Manifest.toLogicalKeeping(df, _)).getOrElse(df)
    def physical(df: DataFrame): DataFrame =
      schema.map(Manifest.toPhysicalKeeping(df, _)).getOrElse(df)
    def physName(logical: String): String = schema
      .flatMap(_.fields.find(_.name == logical).map(Manifest.physNameOf))
      .getOrElse(logical)
  }

  private def viewOf(spark: SparkSession, dir: String): View =
    new View(Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _)))

  private def read(spark: SparkSession, dir: String,
      files: Seq[ManifestEntry]): DataFrame =
    Manifest.readFiles(spark, dir, files)

  /** A physical scan of `files` keyed the way deletion-vector marks
    * are: `_mk_f` is the row's file key ([[Manifest.dvFileKey]]),
    * `_mk_p` its position in the file.
    */
  private[ops] def positioned(spark: SparkSession, dir: String,
      files: Seq[ManifestEntry]): DataFrame =
    read(spark, dir, files)
      .withColumn("_mk_f",
        Manifest.dvFileKey(Manifest.dvDepth(files.map(_.name))))
      .withColumn("_mk_p", col("_metadata.row_index"))

  /** The rows of a [[positioned]] frame that `marks` does (`left_semi`)
    * or does not (`left_anti`) mark. `rows` is the mark count the
    * caller already holds (the new marks' entry rows, or a vector's
    * `_COUNT`): up to [[Manifest.MarkBroadcastRows]] the marks
    * broadcast and the scan never shuffles; past it the join shuffles,
    * same rows.
    */
  private[ops] def byMarks(df: DataFrame, marks: DataFrame, how: String,
      rows: Long): DataFrame = {
    val m = if (rows <= Manifest.MarkBroadcastRows) broadcast(marks)
      else marks
    df.join(m, df("_mk_f") === m("file") && df("_mk_p") === m("pos"), how)
      .drop("_mk_f", "_mk_p")
  }

  /** The mark count of `version`'s vector, from its `_COUNT` sidecar
    * (unknown reads as unbounded, so the join shuffles).
    */
  private def markCount(spark: SparkSession, dir: String,
      version: Int): Long =
    Manifest.dvCountOf(spark, dir, version).getOrElse(Long.MaxValue)

  /** The files among `names` holding a row that matches `pred` (logical
    * column names): a pushed-predicate scan, so footer pruning skips
    * most files unread, and a collect bounded by #files, never rows.
    * `basePath` keeps partition-directory columns usable in `pred`.
    */
  private def filesMatching(spark: SparkSession, dir: String,
      files: Seq[ManifestEntry], view: View,
      pred: Column): Seq[ManifestEntry] = {
    val hit = view.logical(read(spark, dir, files)).filter(pred)
      .select(input_file_name().as("f")).distinct()
      .collect().map(r =>
        Manifest.relativize(spark, dir, Manifest.fileOf(r.getString(0))))
      .toSet
    files.filter(e => hit.contains(e.name))
  }

  /** The entries holding one of `keys` (one column, `physKey`):
    * manifest pruning first — only files whose recorded key range
    * meets `range`'s min/max are scanned (the stats doing WRITE
    * planning, not just read planning) — then a broadcast semi-join.
    */
  private def filesWithKeys(spark: SparkSession, dir: String,
      entries: Seq[ManifestEntry], range: DataFrame, keys: DataFrame,
      physKey: String): Seq[ManifestEntry] = {
    val rng = range.agg(min(col(physKey)).cast("long"),
      max(col(physKey)).cast("long")).head()
    val candidates =
      if (rng.isNullAt(0)) Nil
      else entries.filter(e => e.stats.find(_.col == physKey)
        .forall(s => s.max >= rng.getLong(0) && s.min <= rng.getLong(1)))
    if (candidates.isEmpty) Nil
    else {
      val hit = read(spark, dir, candidates)
        // capture the file BEFORE the join — input_file_name() is
        // single-source and the semi join introduces a second one
        .select(col(physKey), input_file_name().as("f"))
        .join(broadcast(keys), Seq(physKey), "left_semi")
        .select("f").distinct()
        .collect().map(r =>
          Manifest.relativize(spark, dir, Manifest.fileOf(r.getString(0))))
        .toSet
      entries.filter(e => hit.contains(e.name))
    }
  }

  /** Align `batch` to the table and write it under `prefix`: (the new
    * files' entries, the evolved schema if the batch grew it).
    */
  private def writeBatch(spark: SparkSession, dir: String, k: Claimed,
      batch: DataFrame,
      prefix: String): (Seq[ManifestEntry], Option[StructType]) = {
    val sample = k.base.head.toSeq
    val partCols = partColsFor(spark, dir, sample)
    val (aligned, evolved) =
      alignForWrite(spark, dir, sample, batch, partCols)
    // a clustered table's batch write shape: hash-partitioned on the
    // partition and cluster columns, which adaptive execution coalesces
    // into one task for a small batch — one file per partition
    // directory — and sorted by them within each file
    val shaped = k.cluster.fold(aligned) { c =>
      val keys = (partCols :+ c).map(col)
      aligned.repartition(keys: _*).sortWithinPartitions(keys: _*)
    }
    (k.write(shaped, partCols, prefix), evolved)
  }

  /** The table's recorded schema, for the schema-evolution verbs. */
  private def schemaOf(spark: SparkSession, dir: String,
      version: Int): StructType =
    Manifest.tableSchema(spark, dir, version)
      .getOrElse(Manifest.readTable(spark, dir).schema)

  /** IN-PLACE upsert (MERGE INTO by key, last-writer-wins): rows of
    * `updates` REPLACE table rows sharing their `keyCol` and brand-new
    * keys are inserted — the third manifest-native verb next to delete
    * and compact. The affected-file search runs manifest-pruned
    * ([[filesWithKeys]]), survivors drop updated keys via a broadcast
    * anti-join, and the whole batch lands as delta files beside the
    * originals. Cost is O(affected files + batch), independent of
    * table size; history time-travels until vacuum.
    * Returns (affectedFiles, totalFiles).
    */
  def upsertInPlace(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, statCols: Seq[String] = Nil): (Int, Int) =
    commit(spark, dir, statCols, listed = true) { k =>
      requireNoDvs(spark, dir)
      // file-side scans run under PHYSICAL names; the batch's logical
      // key joins against the physical one
      val physKey = viewOf(spark, dir).physName(keyCol)
      val updKeys = updates.select(col(keyCol).as(physKey)).distinct()
      val hit = filesWithKeys(spark, dir, k.base.listed,
        updates.select(col(keyCol).as(physKey)), updKeys, physKey)
      val prefix = s"upsert-v${k.version}"
      val partCols = partColsOf(k.base.listed)
      lazy val hitRead = read(spark, dir, hit)
      val survivors =
        if (hit.isEmpty) Nil
        else k.write(
          hitRead.join(broadcast(updKeys), Seq(physKey), "left_anti"),
          partCols, s"$prefix-keep")
      // align the batch to the table (hard error on MISSING columns,
      // add-column evolution on extra ones)
      val (aligned, evolved) =
        alignForWrite(spark, dir, k.base.listed, updates, partCols)
      val batchNames = k.write(aligned, partCols, s"$prefix-new")
      // change record: old images of replaced keys as deletes, the
      // batch as inserts (MERGE = delete + insert pairs in the feed)
      Change(added = survivors ++ batchNames,
        removed = hit.map(_.name).toSet, schema = evolved,
        cdc = Some(_ =>
          (if (hit.isEmpty) noChange(spark, dir, "delete")
          else hitRead.join(broadcast(updKeys), Seq(physKey), "left_semi")
            .withColumn("_change_type", lit("delete")))
            .unionByName(aligned.withColumn("_change_type", lit("insert")),
              allowMissingColumns = true)))
    }.map(d => (d.removed, d.base.names.size)).get

  /** Keyed IN-PLACE delete — the delete half of [[upsertInPlace]]:
    * every row whose `keyCol` appears in `keys` is removed, with the
    * same manifest-pruned affected-file search, broadcast anti-join
    * survivors, delta staging, and commit-time change record. Cost
    * O(affected files + keys); idempotent — re-deleting absent keys is
    * a metadata-only version bump, which is what makes a replayed CDC
    * batch safe. Returns (affectedFiles, totalFiles).
    */
  def deleteByKeys(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, statCols: Seq[String] = Nil): (Int, Int) =
    commit(spark, dir, statCols, listed = true) { k =>
      requireNoDvs(spark, dir)
      val physKey = viewOf(spark, dir).physName(keyCol)
      val delKeys = keys.select(col(keyCol).as(physKey)).distinct()
      val hit = filesWithKeys(spark, dir, k.base.listed, delKeys, delKeys,
        physKey)
      lazy val hitRead = read(spark, dir, hit)
      Change(
        added =
          if (hit.isEmpty) Nil
          else k.write(
            hitRead.join(broadcast(delKeys), Seq(physKey), "left_anti"),
            partColsOf(hit), s"delta-v${k.version}"),
        removed = hit.map(_.name).toSet,
        cdc = Some(_ =>
          if (hit.isEmpty) noChange(spark, dir, "delete")
          else hitRead.join(broadcast(delKeys), Seq(physKey), "left_semi")
            .withColumn("_change_type", lit("delete"))))
    }.map(d => (d.removed, d.base.names.size)).get

  /** DROP COLUMN — the all-metadata evolution verb: the new snapshot
    * carries the same file entries verbatim and a schema WITHOUT the
    * column; every read under the recorded schema simply stops
    * selecting it (parquet reads any subset of a file's columns), and
    * write batches stop having to supply it. No data file is touched;
    * time travel to earlier versions still sees the column. Errors on
    * partition columns (they are directory structure, not file
    * payload) and on the last remaining column.
    */
  def dropColumn(spark: SparkSession, dir: String, column: String,
      statCols: Seq[String] = Nil): Unit =
    commit(spark, dir, statCols, listed = true) { k =>
      require(!partColsOf(k.base.listed).contains(column),
        s"$column is a partition column of $dir — repartition instead")
      val schema = schemaOf(spark, dir, k.base.version)
      require(schema.fieldNames.contains(column),
        s"$column does not exist in $dir " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      val dropped = StructType(schema.fields.filterNot(_.name == column))
      require(dropped.nonEmpty, s"cannot drop the last column of $dir")
      Change(schema = Some(dropped))
    }: Unit

  /** RENAME COLUMN — metadata-only, Delta-column-mapping style: every
    * already-written file keeps the column under its ORIGINAL physical
    * name; the new snapshot's schema carries the logical name plus
    * `graft.physName` metadata pointing at the physical one. Reads
    * fetch physical and project to logical ([[Manifest.toLogical]]);
    * writes stage under physical ([[alignForWrite]]); time travel to
    * an older version still sees the old name (its `_schema.json`
    * predates the mapping). Chained renames keep pointing at the one
    * original physical name. No data file is touched.
    */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String, statCols: Seq[String] = Nil): Unit =
    commit(spark, dir, statCols, listed = true) { k =>
      require(!partColsOf(k.base.listed).contains(from),
        s"$from is a partition column of $dir — partition names are " +
          "directory structure, not file payload")
      val schema = schemaOf(spark, dir, k.base.version)
      require(schema.fieldNames.contains(from),
        s"$from does not exist in $dir " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(to),
        s"$to already exists in $dir")
      // logical names may not shadow another field's PHYSICAL name:
      // files and staged writes are keyed physically, and a later
      // rename/drop against the shadowed field becomes ambiguous
      schema.fields.find(f => f.name != from && Manifest.physNameOf(f) == to)
        .foreach(c => throw new IllegalArgumentException(
          s"cannot rename $from to '$to' in $dir: column '${c.name}' " +
            s"still writes under physical name '$to' — pick another name"))
      Change(schema = Some(StructType(schema.fields.map { f =>
        if (f.name != from) f
        else f.copy(name = to, metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(Manifest.PhysNameKey, Manifest.physNameOf(f))
            .build())
      })))
    }: Unit

  /** The lossless widenings the vectorized parquet reader upcasts
    * natively (verified by WidenProbeSpec): files written before the
    * widening read under the wider schema with zero rewrite.
    */
  private val WidenOk: Set[(DataType, DataType)] = {
    import org.apache.spark.sql.types._
    val ints = Seq(ByteType, ShortType, IntegerType, LongType)
    val chain = for {
      (n, i) <- ints.zipWithIndex; w <- ints.drop(i + 1)
    } yield (n: DataType, w: DataType)
    chain.toSet + ((FloatType: DataType, DoubleType: DataType))
  }

  /** WIDEN COLUMN TYPE — metadata-only evolution for the lossless
    * promotions (INT→BIGINT and friends, FLOAT→DOUBLE): the recorded
    * schema's field changes type, existing files keep their narrower
    * physical encoding and upcast at read, and [[alignForWrite]]'s
    * cast discipline makes every future write stage the wide type.
    * Idempotent: a column already of type `to` commits nothing.
    */
  def widenColumn(spark: SparkSession, dir: String, column: String,
      to: DataType, statCols: Seq[String] = Nil): Unit = {
    if (Manifest.currentVersion(spark, dir).exists(v =>
        schemaOf(spark, dir, v).fields.exists(f =>
          f.name == column && f.dataType == to))) return
    commit(spark, dir, statCols, listed = true) { k =>
      require(!partColsOf(k.base.listed).contains(column),
        s"$column is a partition column of $dir — repartition instead")
      val schema = schemaOf(spark, dir, k.base.version)
      val field = schema.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(
          s"$column does not exist in $dir " +
            s"(have ${schema.fieldNames.mkString(", ")})"))
      require(field.dataType == to || WidenOk.contains((field.dataType, to)),
        s"cannot widen $column from ${field.dataType.simpleString} to " +
          s"${to.simpleString} — only lossless promotions " +
          "(integral up-chain, float→double) are metadata-only")
      Change(schema = Some(StructType(schema.fields.map(f =>
        if (f.name == column) f.copy(dataType = to) else f))))
    }: Unit
  }

  /** ADD COLUMN as a METADATA-ONLY commit — the mirror of
    * [[dropColumn]]: the recorded schema gains `field` (stored
    * nullable, as all recorded fields are), no data file is touched,
    * and every existing file NULL-backfills the column at read through
    * the snapshot's schema. Later write batches may supply it (they
    * align by name). Errors if the column already exists.
    */
  def addColumn(spark: SparkSession, dir: String,
      field: StructField, statCols: Seq[String] = Nil): Unit =
    commit(spark, dir, statCols, listed = true) { k =>
      val schema = schemaOf(spark, dir, k.base.version)
      require(!schema.fieldNames.contains(field.name),
        s"column ${field.name} already exists in $dir")
      // same guard as alignForWrite's auto-evolution: a new column named
      // after an existing field's physical name would record a physical
      // schema with two identical fields — commit succeeds, every
      // subsequent read fails analysis
      schema.fields.find(f => Manifest.physNameOf(f) == field.name)
        .foreach(c => throw new IllegalArgumentException(
          s"cannot add column '${field.name}' to $dir: column " +
            s"'${c.name}' still writes under physical name " +
            s"'${field.name}' — pick a different name"))
      Change(schema =
        Some(StructType(schema.fields :+ field.copy(nullable = true))))
    }: Unit

  /** MERGE-ON-READ delete — the write-cheap path: matching rows are
    * MARKED in a deletion vector ((file, row position) pairs under
    * `_manifest/dv-v{K}`) and subtracted by [[Manifest.readTable]]'s
    * broadcast anti-join; no data file is opened for writing. Marking
    * costs O(matches) metadata — at 100 TB this is how a targeted
    * delete commits in seconds instead of rewriting terabytes, paying
    * instead a small per-read join until [[flushDeleteVectors]]
    * materializes the marks. Vectors accumulate across deletes and are
    * versioned with the snapshot, so time travel sees each version's
    * own view. Returns (rowsMarked, totalFiles).
    */
  def deleteMergeOnRead(spark: SparkSession, dir: String, pred: Column,
      statCols: Seq[String] = Nil): (Long, Int) =
    deleteMergeOnReadWhere(spark, dir, _.filter(pred), statCols)

  /** [[deleteMergeOnRead]] with a FRAME-VALUED doomed set (round-16
    * verdict #3): the rows to mark are the ones whose `keyCol` appears
    * in `doomed`. The `Column`-predicate form forces a driver-sized
    * key list (`isin(ids: _*)` builds a literal In-expression — a
    * 100k-key replacement wave means a 100k-literal plan, analyzer
    * cost, and driver memory); this form keeps the doomed set
    * distributed and marks via the SAME broadcast semi-join shape the
    * DV read path already uses for subtraction. `doomed` must be
    * small enough to broadcast (the replacement-wave contract — a
    * backfill-scale delete should rewrite instead); past that, drop
    * the hint at the call site.
    */
  def deleteMergeOnReadKeys(spark: SparkSession, dir: String,
      doomed: DataFrame, keyCol: String,
      statCols: Seq[String] = Nil): (Long, Int) =
    deleteMergeOnReadWhere(spark, dir,
      _.join(broadcast(doomed.select(col(keyCol)).distinct()),
        Seq(keyCol), "left_semi"), statCols)

  /** APPEND + merge-on-read DELETE as ONE atomic snapshot commit —
    * the "replace" verb an incremental keep-best consumer needs: the
    * displaced rows' marks AND the replacement batch's files become
    * visible together, so no version exists where the displaced rows
    * are gone but their replacements absent (or the reverse). The
    * doomed set is frame-valued (broadcast semi-join marking, like
    * [[deleteMergeOnReadKeys]]); the single change record carries the
    * newly-marked deletes plus the staged inserts, so the change feed
    * sees the commit as the replace it is. App-scoped exactly-once
    * like [[appendInPlace]]: a replayed replace no-ops. Returns
    * (rowsMarked, filesAdded).
    */
  def appendAndDeleteKeys(spark: SparkSession, dir: String,
      batch: DataFrame, doomed: DataFrame, keyCol: String,
      statCols: Seq[String] = Nil,
      txnApp: Option[(String, Long)] = None): (Long, Int) =
    commit(spark, dir, statCols, txnApp = txnApp) { k =>
      val view = viewOf(spark, dir)
      // ONE standing-table scan (round 19): materialize the doomed-
      // matching rows — O(doomed) rows, all columns + (file, pos) — and
      // derive BOTH the new marks and the change record's delete rows
      // from it; at 100 TB the table scan is this commit's dominant
      // cost. An empty standing table has nothing to mark.
      val matched =
        if (k.base.names.isEmpty) None
        else Some(view.logical(positioned(spark, dir, k.base.files))
          .join(broadcast(doomed.select(col(keyCol)).distinct()),
            Seq(keyCol), "left_semi")
          .localCheckpoint(true))
      val (staged, evolved) =
        writeBatch(spark, dir, k, batch, s"append-v${k.version}")
      Change(added = staged, schema = evolved,
        dv = DvMarks(matched.map(_.select(col("_mk_f").as("file"),
          col("_mk_p").as("pos"))).getOrElse(Manifest.noMarks(spark))),
        // the feed reads recorded sets exclusively when present, so the
        // inserts restate here (unlike a plain append) — logical names
        // on both sides, matching the delete rows
        cdc = Some { w =>
          val ins = view.logical(
            if (w.added.isEmpty) noChange(spark, dir)
            else Manifest.readFilesAs(spark, dir, w.added,
                evolved.orElse(Manifest.tableSchema(spark, dir,
                  k.base.version)))
              .withColumn("_change_type", lit("insert")))
          val del = matched match {
            case None => ins.filter(lit(false))
            case Some(m) => byMarks(m, w.marks, "left_semi", w.markRows)
          }
          del.withColumn("_change_type", lit("delete"))
            .unionByName(ins, allowMissingColumns = true)
        })
    }.map(d => (d.marked, d.added.size)).getOrElse((0L, 0))

  private def deleteMergeOnReadWhere(spark: SparkSession, dir: String,
      matching: DataFrame => DataFrame,
      statCols: Seq[String]): (Long, Int) =
    // entries transfer verbatim — only NAMES (for the scan) and the
    // row total (for the flush policy) reach the driver
    commit(spark, dir, statCols) { k =>
      // position metadata materializes BEFORE any projection, then
      // logical names let `matching` resolve on a renamed table; re-
      // marking an already-deleted row is harmless (set union), so the
      // scan runs raw
      val raw = positioned(spark, dir, k.base.files)
      Change(
        dv = DvMarks(matching(viewOf(spark, dir).logical(raw))
          .select(col("_mk_f").as("file"), col("_mk_p").as("pos"))),
        // the NEWLY marked rows only: marks already present were
        // deleted by an earlier commit and must not restate
        cdc = Some(w => byMarks(raw, w.marks, "left_semi", w.markRows)
          .withColumn("_change_type", lit("delete"))))
    }.map(d => (d.marked, d.base.names.size)).get

  /** Materialize a table's deletion vectors: rewrite ONLY the files
    * that carry marks (dropping the marked positions) and commit a
    * snapshot with no vector — the read-path join disappears, the
    * rewriting verbs become legal again, and vacuum can reclaim the
    * originals. This is the deferred half of merge-on-read: mark
    * cheaply online, flush in the maintenance window.
    * Returns the number of files rewritten.
    */
  def flushDeleteVectors(spark: SparkSession, dir: String,
      statCols: Seq[String] = Nil): Int = {
    if (!Manifest.hasDeletionVectors(spark, dir)) return 0
    commit(spark, dir, statCols, listed = true) { k =>
      val dv = Manifest.dvMarks(spark, dir, k.base.version)
      val marked = dv.select("file").distinct()
        .collect().map(_.getString(0)).toSet
      val hit = k.base.listed.filter(e => marked.contains(e.name))
      Change(
        added = k.write(byMarks(positioned(spark, dir, hit), dv, "left_anti",
          markCount(spark, dir, k.base.version)),
          partColsOf(hit), s"flush-v${k.version}"),
        removed = hit.map(_.name).toSet, dv = DvDrop,
        // the deletes were already logical at the marking commit
        cdc = Some(_ => noChange(spark, dir)))
    }.get.removed
  }

  /** The rewriting verbs read data files RAW (they restate file
    * contents); running one over live deletion vectors would resurrect
    * marked rows. Flush first.
    */
  private def requireNoDvs(spark: SparkSession, dir: String): Unit =
    require(!Manifest.hasDeletionVectors(spark, dir),
      s"$dir has live deletion vectors: run flushDeleteVectors before " +
        "rewriting operations")

  /** IN-PLACE append — the insert-only verb: the batch lands as delta
    * files beside the existing ones and every prior entry transfers
    * verbatim, carried by chunk reference — appending to a
    * million-file table costs O(batch) metadata, not O(table).
    *
    * `txn` makes the append EXACTLY-ONCE for streaming: the batch id
    * commits in the same atomic CURRENT write as the snapshot flip, so
    * a replayed micro-batch (foreachBatch re-delivery after a crash)
    * sees `lastTxn >= batchId` and becomes a no-op — there is no
    * window where data is visible but its txn is not.
    *
    * Live deletion vectors CARRY FORWARD: an append doesn't touch
    * existing files, so the previous version's marks stay exactly
    * valid (a DELETE-then-INSERT SQL sequence composes without a flush
    * in between; only the REWRITING verbs require one).
    * Returns the number of files added (0 for a replay).
    */
  def appendInPlace(spark: SparkSession, dir: String, batch: DataFrame,
      statCols: Seq[String] = Nil, txn: Option[Long] = None,
      txnApp: Option[(String, Long)] = None,
      metaDelta: () => Option[Map[String, Long]] = () => None): Int =
    commit(spark, dir, statCols, txn = txn, txnApp = txnApp) { k =>
      val (names, evolved) =
        writeBatch(spark, dir, k, batch, s"append-v${k.version}")
      Change(added = names, schema = evolved, metaDelta = metaDelta)
    }.map(_.added.size).getOrElse(0)

  /** Commit executor-staged parquet dot-files as an APPEND snapshot —
    * the driver half of the connector's STREAMING write
    * (`writeStream.toTable`): tasks stage via the row-level writer,
    * this lands them, stats them, carries live deletion vectors, and
    * commits with the epoch as `txn` — so a replayed epoch (restart
    * re-delivery) deletes its re-staged files and no-ops, the same
    * exactly-once guard as [[graft.streaming.ManifestSink]]. A writer
    * that loses the claim race throws with its dot-files intact, for
    * its retry. Returns files committed (0 for a replay).
    */
  def commitStagedAppend(spark: SparkSession, dir: String,
      stagedAbs: Seq[String], txn: Option[Long],
      statCols: Seq[String] = Nil,
      txnApp: Option[(String, Long)] = None): Int =
    commit(spark, dir, statCols, txn = txn, txnApp = txnApp,
      staged = stagedAbs)(_ => Change()).map(_.added.size).getOrElse(0)

  /** DYNAMIC partition overwrite — `df.writeTo(t).overwritePartitions()`:
    * the batch lands as fresh files and every partition directory it
    * TOUCHES is superseded whole; untouched partitions carry their
    * entries verbatim (Spark's dynamic-overwrite contract, as a pure
    * metadata swap over staged files). Requires a partitioned table
    * and flushed vectors (the replaced partitions' marks would die
    * with their files). Returns (replacedFiles, addedFiles).
    *
    * `expectedBase` makes the overwrite COMPARE-AND-SWAP (round-17
    * advisor): a caller that computed `batch` from a snapshot read at
    * version V passes Some(V), and the commit fails loudly if the
    * table has advanced past V by the time the claim is taken —
    * closing the read/commit TOCTOU window (a concurrent append
    * landing between the caller's read and this commit would
    * otherwise have its partition contents clobbered by a fold that
    * never saw them). The claim's own basis check then guarantees no
    * FURTHER commit can interleave.
    */
  def overwritePartitionsInPlace(spark: SparkSession, dir: String,
      batch: DataFrame, statCols: Seq[String] = Nil,
      expectedBase: Option[Int] = None): (Int, Int) =
    commit(spark, dir, statCols, listed = true) { k =>
      requireNoDvs(spark, dir)
      expectedBase.foreach(e => if (e != k.base.version)
        throw new java.util.ConcurrentModificationException(
          s"$dir advanced to v${k.base.version} past the caller's read " +
            s"at v$e — the staged fold was computed from a stale " +
            "snapshot; re-read and retry in a single-writer maintenance " +
            "window"))
      requirePartitioned(spark, dir, k)
      val (names, evolved) =
        writeBatch(spark, dir, k, batch, s"dynover-v${k.version}")
      replacePartitions(spark, dir, k, names.map(_.name))
        .copy(added = names, schema = evolved)
    }.map(d => (d.removed, d.added.size)).get

  /** Commit executor-staged dot-files as a DYNAMIC partition
    * overwrite — the driver half of the connector's V2 batch write
    * (`df.writeTo(t).overwritePartitions()` has no V1 bridge).
    */
  def commitStagedDynamicOverwrite(spark: SparkSession, dir: String,
      stagedAbs: Seq[String], statCols: Seq[String] = Nil): (Int, Int) =
    commit(spark, dir, statCols, listed = true, staged = stagedAbs,
        landAs = "dynover") { k =>
      requireNoDvs(spark, dir)
      requirePartitioned(spark, dir, k)
      replacePartitions(spark, dir, k, k.landed)
    }.map(d => (d.removed, d.added.size)).get

  /** On an unpartitioned table every staged file shares dirname "",
    * and "replace touched partitions" would silently degrade into a
    * full-table overwrite.
    */
  private def requirePartitioned(spark: SparkSession, dir: String,
      k: Claimed): Unit =
    require(partColsFor(spark, dir, k.base.head.toSeq).nonEmpty,
      s"$dir is unpartitioned — dynamic partition overwrite needs " +
        "partition directories; use overwriteInPlace for whole-table")

  /** The dynamic-overwrite change: every partition directory `names`
    * TOUCH is superseded whole, untouched partitions carry verbatim;
    * the replaced rows record as deletes, the new ones as inserts.
    */
  private def replacePartitions(spark: SparkSession, dir: String,
      k: Claimed, names: Seq[String]): Change = {
    val touched = names.map(parentOf).toSet
    val hit = k.base.files.filter(e => touched.contains(parentOf(e.name)))
    Change(removed = hit.map(_.name).toSet, cdc = Some(w =>
      (if (hit.isEmpty) noChange(spark, dir, "delete")
      else read(spark, dir, hit).withColumn("_change_type", lit("delete")))
        .unionByName(read(spark, dir, w.added)
          .withColumn("_change_type", lit("insert")),
          allowMissingColumns = true)))
  }

  /** IN-PLACE overwrite — INSERT OVERWRITE for a manifest-managed
    * table: the batch lands as fresh delta files and the new snapshot
    * references ONLY them, superseding every prior file (and any live
    * deletion vector — the new version has none). Prior files stay on
    * disk for time travel until [[Manifest.vacuum]]; cost is O(batch),
    * nothing is read. The batch aligns to the table's recorded schema
    * exactly as [[appendInPlace]] (missing column = hard error, extra
    * column = add-column evolution), so a replacement cannot silently
    * drop or re-type a column. Returns the number of files written.
    */
  def overwriteInPlace(spark: SparkSession, dir: String, batch: DataFrame,
      statCols: Seq[String] = Nil,
      metaDelta: () => Option[Map[String, Long]] = () => None): Int =
    commit(spark, dir, statCols, listed = true) { k =>
      val (names, evolved) =
        writeBatch(spark, dir, k, batch, s"overwrite-v${k.version}")
      Change(added = names, removed = k.base.names.toSet, dv = DvDrop,
        schema = evolved, metaDelta = metaDelta)
    }.get.added.size

  /** Max data-file count in any leaf partition directory of the
    * CURRENT snapshot — pure manifest metadata (no listing, no file
    * opens). This is the number an append-heavy standing index's
    * auto-compaction cadence gates on: past a per-directory file
    * budget, probe cost goes file-open-bound instead of row-bound.
    */
  def maxFilesPerDir(spark: SparkSession, dir: String): Int =
    Manifest.read(spark, dir).map(
      _.groupBy(e => parentOf(e.name))
        .values.map(_.size).maxOption.getOrElse(0)).getOrElse(0)

  /** IN-PLACE compaction — OPTIMIZE for a manifest-managed table,
    * BIN-PACKED: within each directory only the small-file tail
    * (below half the target size) merges into new files written beside
    * the originals (`compact-v{K}-` prefix);
    * right-sized files transfer their entries verbatim, so a mature
    * table pays only for what its latest increment fragmented — never
    * a re-copy of data that was already laid out right. Rows never
    * cross the network (coalesce), untouched directories transfer
    * their entries verbatim, superseded small files stay readable for
    * time travel until [[Manifest.vacuum]]. Merges are independent
    * Spark jobs submitted from a bounded pool (the compactShards
    * lesson: serial driver loops pay per-job latency x #dirs).
    * `zorderBy` (>= 2 columns — enforced; a 1-column "zorder" is just
    * a sort and must be asked for as one) additionally clusters every
    * rewritten group along the Morton curve of those columns —
    * OPTIMIZE ZORDER BY: one range shuffle per group in exchange for
    * tight multi-dim min/max on every merged file, recorded in the
    * manifest and used by every later rectangle query. Curve bits are
    * derived as 63/d and every column is quantized to that grid by
    * pure shifts against its group max (shift, never modulo — modulo
    * destroys curve locality), so wide columns neither overflow the
    * 63-bit key nor wrap.
    * A clustered table ([[ClusterMetaKey]]) range-partitions each
    * rewritten group on its cluster column and sorts every merged
    * file by it, so merged files cover disjoint key ranges that the
    * manifest records and probes prune by.
    * LIVE DELETION VECTORS ARE APPLIED INLINE: compact = flush + merge
    * in one rewrite — every group containing a marked file rewrites
    * with the marks subtracted, and the new snapshot carries no
    * vector, saving the separate flush rewrite a maintenance window
    * would otherwise pay.
    * Returns (filesBefore, filesAfter).
    */
  def compactInPlace(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20,
      statCols: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil): (Int, Int) = {
    require(zorderBy.isEmpty || zorderBy.size >= 2,
      s"ZORDER BY needs >= 2 columns, got $zorderBy — a single-column " +
        "cluster is a plain sort, not a curve")
    val zBits = if (zorderBy.isEmpty) 16 else math.min(16, 63 / zorderBy.size)
    commit(spark, dir, statCols, listed = true) { k =>
      val dv = Manifest.dvMarks(spark, dir, k.base.version)
      val markedFiles = dv.select("file").distinct()
        .collect().map(_.getString(0)).toSet
      def bound(es: Seq[ManifestEntry]): Int =
        math.max(1, math.ceil(es.map(_.bytes).sum.toDouble / targetBytes).toInt)
      // BIN-PACK, don't blanket-rewrite: within a directory, files
      // already at (or above) half the target are right-sized — only
      // the small-file tail merges, and right-sized files carry their
      // entries verbatim. A day-one streaming table is all tail; a
      // mature table pays only for what its last increment fragmented.
      // Exceptions that force a file into the rewrite set anyway:
      // ZORDER (stats tightening wants every row re-clustered) and
      // DV-marked files (their marks are consumed by this commit).
      def tailOf(es: Seq[ManifestEntry]) = es.filter { e =>
        zorderBy.nonEmpty || e.bytes < targetBytes / 2 ||
          markedFiles.contains(e.name)
      }
      // a group rewrites when its rewriteable tail actually shrinks
      // (>= 2 files merge into fewer) or carries marks to consume
      val toMerge = k.base.listed.groupBy(e => parentOf(e.name))
        .map { case (sub, es) => sub -> tailOf(es) }
        .filter { case (_, tail) =>
          (tail.size > bound(tail) && tail.size >= 2) ||
            zorderBy.nonEmpty ||
            tail.exists(e => markedFiles.contains(e.name))
        }
      // merge groups read their files under the recorded physical
      // schema (a widened table mixes physical widths on disk, and bare
      // inference would pin one) and write them back into their own
      // directory, so partition values stay directory-encoded
      val partCols = partColsOf(k.base.listed)
      val mergedNames =
        if (toMerge.isEmpty) Seq.empty[ManifestEntry]
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(8, toMerge.size))
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          try {
            val jobs = toMerge.toSeq.sortBy(_._1).map { case (sub, es) =>
              scala.concurrent.Future {
                // subtract live deletion marks inline (broadcast
                // anti-join — no shuffle) so this rewrite doubles as
                // the flush for its group's vectors
                val base = (
                  if (es.exists(e => markedFiles.contains(e.name)))
                    byMarks(positioned(spark, dir, es), dv, "left_anti",
                      markCount(spark, dir, k.base.version))
                  else read(spark, dir, es)).drop(partCols: _*)
                // plain compaction coalesces (no shuffle); ZORDER BY
                // pays the one range shuffle that buys multi-dim
                // min/max tightness on every merged file — Delta's
                // OPTIMIZE ZORDER, expressed over the same manifest.
                // Each column normalizes to the zBits grid against its
                // group max, so the interleave never degenerates on
                // wide or mismatched domains
                val merged =
                  if (zorderBy.size >= 2) {
                    val mx = base.agg(
                      max(col(zorderBy.head).cast("long")),
                      zorderBy.tail.map(c =>
                        max(col(c).cast("long"))): _*).head()
                    val ck = zkeyN(zorderBy.zipWithIndex.map {
                      case (c, i) => normalizeBits(col(c),
                        if (mx.isNullAt(i)) 1L else mx.getLong(i), zBits)
                    }, zBits)
                    base.withColumn("_zk", ck)
                      .repartitionByRange(bound(es), col("_zk"))
                      .sortWithinPartitions("_zk")
                      .drop("_zk")
                  } else k.cluster.fold(base.coalesce(bound(es)))(c =>
                    base.repartitionByRange(bound(es), col(c))
                      .sortWithinPartitions(c))
                k.write(merged, Nil, s"compact-v${k.version}", sub)
              }
            }
            scala.concurrent.Await.result(
              scala.concurrent.Future.sequence(jobs),
              scala.concurrent.duration.Duration(30, "min")).flatten
          } finally pool.shutdown()
        }
      // right-sized files of rewriting groups carry their entries
      // verbatim, exactly like untouched groups — metadata only
      Change(added = mergedNames,
        removed = toMerge.values.flatten.map(_.name).toSet, dv = DvDrop,
        // compaction (even one spending deletion vectors — their rows
        // were already logically deleted at the marking commit)
        // changes no logical row, and the feed must know that without
        // diffing
        cdc = Some(_ => noChange(spark, dir)))
    }.map(d => (d.base.names.size,
      d.base.names.size - d.removed + d.added.size)).get
  }

  /** IN-PLACE copy-on-write delete — the manifest-native form that
    * retires [[deleteRewrite]]'s carried-file copies entirely: the
    * survivors of the affected files are written into a versioned
    * delta subdirectory, and the commit is a METADATA swap (new
    * snapshot = untouched entries verbatim + fresh delta entries,
    * CURRENT pointer flips last). Untouched files are not copied, not
    * moved, not even opened: a 100 TB delete costs exactly the
    * affected-file rewrite plus one small manifest write — the commit
    * removes affected entries from a chunked base by anti-join and
    * never restates the full list. Superseded files stay on disk, so
    * every prior version remains time-travel-readable until
    * [[Manifest.vacuum]] reclaims them.
    * Returns (affectedFiles, totalFiles).
    */
  def deleteInPlace(spark: SparkSession, dir: String, pred: Column,
      statCols: Seq[String] = Nil): (Int, Int) =
    commit(spark, dir, statCols) { k =>
      requireNoDvs(spark, dir)
      val view = viewOf(spark, dir)
      val hit = filesMatching(spark, dir, k.base.files, view, pred)
      lazy val hitRead = view.logical(read(spark, dir, hit))
      Change(
        // survivors = rows NOT matching (a NULL predicate RETAINS the
        // row), rewritten with the table's own partitioning so every
        // data file stays at a consistent depth
        added =
          if (hit.isEmpty) Nil
          else k.write(
            view.physical(hitRead.filter(!coalesce(pred, lit(false)))),
            partColsOf(hit), s"delta-v${k.version}"),
        removed = hit.map(_.name).toSet,
        // the deleted rows — one extra O(affected) pass over the same
        // pruned file list: consumption becomes a file read, never a
        // re-diff
        cdc = Some(_ =>
          if (hit.isEmpty) noChange(spark, dir, "delete")
          else hitRead.filter(coalesce(pred, lit(false)))
            .withColumn("_change_type", lit("delete"))))
    }.map(d => (d.removed, d.base.names.size)).get

  /** IN-PLACE UPDATE — copy-on-write `UPDATE ... SET ... WHERE` for a
    * manifest-managed table, completing the mutation verb set
    * (delete / upsert / update): only files that actually CONTAIN a
    * matching row rewrite (found by the same pushed-predicate scan as
    * [[deleteInPlace]], collect bounded by #files); matching rows are
    * rewritten with every assignment evaluated against the ORIGINAL
    * row (SQL UPDATE semantics — assignments never see each other),
    * cast to the column's existing type so a batch cannot drift the
    * physical schema; non-matching rows of those files carry verbatim;
    * untouched files transfer their manifest entries. The commit
    * records its change set as delete(pre-image) + insert(post-image)
    * pairs, the same algebra every CDC consumer here already applies.
    * Cost O(affected files); superseded files stay for time travel.
    * Returns (affectedFiles, totalFiles).
    */
  def updateInPlace(spark: SparkSession, dir: String, pred: Column,
      set: Map[String, Column], statCols: Seq[String] = Nil): (Int, Int) =
    commit(spark, dir, statCols, listed = true) { k =>
      requireNoDvs(spark, dir)
      val types = Manifest.readTable(spark, dir).schema.fields
        .map(f => f.name -> f.dataType).toMap
      set.keys.foreach(c => require(types.contains(c),
        s"UPDATE target column $c does not exist in $dir " +
          s"(have ${types.keys.mkString(", ")})"))
      val safePred = coalesce(pred, lit(false))
      val view = viewOf(spark, dir)
      val hit = filesMatching(spark, dir, k.base.files, view, safePred)
      lazy val hitRead = view.logical(read(spark, dir, hit))
      def assigned(c: String) = set(c).cast(types(c)).as(c)
      Change(
        added =
          if (hit.isEmpty) Nil
          else k.write(
            view.physical(hitRead.select(hitRead.columns.toSeq.map { c =>
              if (set.contains(c))
                when(safePred, assigned(c)).otherwise(col(c)).as(c)
              else col(c)
            }: _*)),
            partColsOf(hit), s"delta-v${k.version}"),
        removed = hit.map(_.name).toSet,
        cdc = Some { _ =>
          if (hit.isEmpty) noChange(spark, dir)
          else {
            val matched = hitRead.filter(safePred)
            matched.withColumn("_change_type", lit("delete"))
              .unionByName(matched.select(hitRead.columns.toSeq.map(c =>
                if (set.contains(c)) assigned(c) else col(c)): _*)
                .withColumn("_change_type", lit("insert")))
          }
        })
    }.map(d => (d.removed, d.base.names.size)).get

  /** GROUP-REPLACEMENT COMMIT — the commit half of the DSv2 row-level
    * operation (SQL `UPDATE` / `MERGE INTO` / copy-on-write `DELETE`
    * through [[graft.sources.GraftCatalog]]): Spark's group-based
    * rewrite has already read the affected files (`replaced`, relative
    * names) and its distributed write staged their replacement rows as
    * dot-files (`stagedAbs`, absolute paths, one per non-empty write
    * task). This verb makes that exchange a manifest commit:
    *
    *  - OCC gate: the table must still be at `expectedVersion` (the
    *    version the scan pinned) — a concurrent commit aborts this one
    *    (staged files removed) rather than silently dropping its rows.
    *  - Staged files land as `rlo-v{K}-...` entries with stats-on-write;
    *    `replaced` entries leave the snapshot (files stay on disk for
    *    time travel until vacuum).
    *  - Deletion vectors COMPOSE: marks on replaced files are spent
    *    (their live rows were rewritten from a DV-subtracted scan);
    *    marks on untouched files carry to the new version — so SQL
    *    UPDATE works over live merge-on-read deletes, no flush needed.
    *  - The change record restates replaced files' live rows as
    *    deletes and staged rows as inserts — the exact group algebra
    *    of the commit, consumable by every CDC reader here.
    *
    * Driver cost is O(#files) names; all row movement happened in the
    * caller's distributed jobs. Returns the number of files added.
    */
  def commitReplace(spark: SparkSession, dir: String,
      replaced: Seq[String], stagedAbs: Seq[String],
      expectedVersion: Int, statCols: Seq[String]): Int =
    commit(spark, dir, statCols, listed = true, staged = stagedAbs,
        landAs = "rlo") { k =>
      if (k.base.version != expectedVersion)
        throw new java.util.ConcurrentModificationException(
          s"table $dir moved from v$expectedVersion to v${k.base.version} " +
            "during the row-level operation — re-run the statement")
      val replacedSet = replaced.toSet
      val hit = k.base.files.filter(e => replacedSet.contains(e.name))
      Change(removed = hit.map(_.name).toSet, cdc = Some { w =>
        val view = viewOf(spark, dir)
        // pre-images: replaced files' rows minus their marks (a row
        // already deleted by an earlier commit must not restate as a
        // second delete)
        val pre =
          if (hit.isEmpty) noChange(spark, dir, "delete")
          else view.logical(byMarks(positioned(spark, dir, hit),
              Manifest.dvMarks(spark, dir, k.base.version), "left_anti",
              markCount(spark, dir, k.base.version)))
            .withColumn("_change_type", lit("delete"))
        val post =
          if (w.added.isEmpty) noChange(spark, dir)
          else view.logical(read(spark, dir, w.added))
            .withColumn("_change_type", lit("insert"))
        pre.unionByName(post)
      })
    }.get.added.size

  /** CLONE — an independent copy of `srcDir`'s CURRENT snapshot at
    * `dstDir`, committed as the clone's v1:
    *
    *  - data files copy BYTE-FOR-BYTE in one distributed job (no
    *    decode/re-encode: file boundaries, sort/cluster order, footer
    *    stats, and parquet blooms all carry verbatim — what a
    *    re-CTAS would destroy);
    *  - manifest entries carry verbatim too (same relative names ⇒
    *    same partition segments; recorded stats stay exact);
    *  - live deletion vectors copy into the clone's v1 vector (marks
    *    key on table-root-relative file names, which the copy
    *    preserves — the `_COUNT` sidecar rides along in the recursive
    *    copy);
    *  - the recorded schema carries, so evolution state survives.
    *
    * The clone shares NOTHING after the copy: writes to either side
    * are invisible to the other, history restarts at v1. Driver cost
    * is O(#files) names; bytes move executor-side under the driver's
    * broadcast Hadoop conf. Returns (files, bytes) copied.
    */
  def cloneTable(spark: SparkSession, srcDir: String,
      dstDir: String): (Int, Long) = {
    val version = Manifest.currentVersion(spark, srcDir).getOrElse(
      throw new IllegalArgumentException(
        s"$srcDir has no manifest — CLONE needs a committed table"))
    require(Manifest.currentVersion(spark, dstDir).isEmpty,
      s"$dstDir already holds a table — CLONE will not overwrite")
    val entries = Manifest.readVersion(spark, srcDir, version)
      .getOrElse(Seq.empty)
    val conf = new graft.util.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val (srcRoot, dstRoot) = (srcDir, dstDir)
    // Small tables copy on the DRIVER (round 19): a parallelize job
    // costs fixed scheduling latency that dwarfs the byte copy when
    // the table is a few MB — e.g. the per-rep fresh-clone setup of
    // the keep-best loops. Past the gate (a real table), bytes keep
    // moving executor-side. `spark.graft.clone.localBytes` overrides;
    // 0 forces the distributed path.
    val localGate = spark.conf.get("spark.graft.clone.localBytes",
      (64L << 20).toString).toLong
    if (entries.nonEmpty) {
      if (entries.map(_.bytes).sum <= localGate && entries.size <= 512) {
        entries.map(_.name).foreach { name =>
          val from = new Path(s"$srcRoot/$name")
          val to = new Path(s"$dstRoot/$name")
          val fs = to.getFileSystem(conf.value)
          org.apache.hadoop.fs.FileUtil.copy(
            from.getFileSystem(conf.value), from, fs, to,
            false, true, conf.value): Unit
        }
      } else spark.sparkContext
        .parallelize(entries.map(_.name), math.min(entries.size, 64))
        .foreach { name =>
          val from = new Path(s"$srcRoot/$name")
          val to = new Path(s"$dstRoot/$name")
          val fs = to.getFileSystem(conf.value)
          org.apache.hadoop.fs.FileUtil.copy(
            from.getFileSystem(conf.value), from, fs, to,
            false, true, conf.value)
        }
    }
    // live merge-on-read marks become the clone's v1 vector
    val fs = new Path(dstDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val srcDv = new Path(Manifest.dvDir(srcDir, version))
    val srcFs = srcDv.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (srcFs.exists(srcDv))
      org.apache.hadoop.fs.FileUtil.copy(srcFs, srcDv, fs,
        new Path(Manifest.dvDir(dstDir, 1)), false, true,
        spark.sparkContext.hadoopConfiguration)
    Manifest.write(spark, dstDir, entries, 1,
      schema = Manifest.tableSchema(spark, srcDir, version),
      meta = Some(Manifest.metaOf(spark, srcDir, version))
        .filter(_.nonEmpty))
    (entries.size, entries.map(_.bytes).sum)
  }

  /** Per-source content fingerprint of a documents directory — the
    * parity probe for compaction: identical on the raw table, the
    * sharded tree, and the compacted tree, because compaction must be
    * byte-lossless. hash30 keeps the sum of 100B doc fingerprints
    * inside int64.
    */
  def contentFingerprint(docs: DataFrame): DataFrame =
    docs.groupBy(col("source").cast("string").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(H.hash30(concat_ws("|", col("doc_id"), col("text"))))
          .as("content_fp"))
      .orderBy("source")

  /** Oracle for [[upsertInPlace]] applied to the documents fixture:
    * keys divisible by `updMod` get their text rewritten, keys
    * divisible by `newMod` insert as brand-new ids at `newOffset` —
    * the merged table fingerprinted per source, same shape as
    * [[contentFingerprintOracle]].
    */
  def upsertOracle(updMod: Int = 97, newMod: Int = 193,
      newOffset: Long = 500000L): String =
    s"""WITH merged AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE doc_id % $updMod <> 0
       |  UNION ALL
       |  SELECT doc_id, source, 'u:' || text AS text FROM documents
       |  WHERE doc_id % $updMod = 0
       |  UNION ALL
       |  SELECT doc_id + $newOffset AS doc_id, source,
       |    'n:' || text AS text FROM documents
       |  WHERE doc_id % $newMod = 0)
       |SELECT source::VARCHAR AS source, count(*) AS n_docs,
       |  sum(${H.duckHash30("doc_id || '|' || text")})::BIGINT AS content_fp
       |FROM merged
       |GROUP BY source
       |ORDER BY source""".stripMargin

  def contentFingerprintOracle(where: String = "TRUE"): String =
    s"""SELECT source::VARCHAR AS source, count(*) AS n_docs,
       |  sum(${H.duckHash30("doc_id || '|' || text")})::BIGINT AS content_fp
       |FROM documents
       |WHERE $where
       |GROUP BY source
       |ORDER BY source""".stripMargin
}
