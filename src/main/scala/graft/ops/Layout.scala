package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

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
    */
  val Version = 4

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

  /** Stage `df` into a hidden dot-directory (partitioned like the
    * table when `partCols` is non-empty), then RENAME every staged
    * file in beside the originals under `<prefix>-` — the shared
    * mutation step of the in-place verbs. Renames are metadata ops;
    * visibility is governed solely by the caller's manifest commit.
    * Returns the new files' table-relative names.
    */
  private def stageAndRename(spark: SparkSession, dir: String,
      df: DataFrame, partCols: Seq[String], prefix: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val tmp = s"$dir/.tmp-$prefix"
    val w = df.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp)
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(new Path(tmp), true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val rel = Manifest.relativize(spark, tmp, f.getPath.toString)
        val segs = rel.split('/')
        val target =
          (segs.dropRight(1) :+ s"$prefix-${segs.last}").mkString("/")
        fs.mkdirs(new Path(s"$dir/$target").getParent)
        fs.rename(f.getPath, new Path(s"$dir/$target"))
        names += target
      }
    }
    fs.delete(new Path(tmp), true)
    names.toSeq
  }

  /** Partition columns of a file set, recovered from the entries' own
    * k=v path segments.
    */
  private def partColsOf(entries: Seq[ManifestEntry]): Seq[String] =
    partColsOfNames(entries.map(_.name))

  private def partColsOfNames(names: Seq[String]): Seq[String] =
    names.headOption.toSeq.flatMap(_.split('/').dropRight(1)
      .filter(_.contains("=")).map(_.split("=")(0)).toSeq)

  /** Field-metadata key marking a recorded-schema column as a
    * PARTITION column — how a `CREATE TABLE ... PARTITIONED BY`
    * through the SQL catalog declares layout before any file exists.
    */
  val PartitionMetaKey = "graft.partition"

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

  /** Stats for freshly staged files, dropping zero-row ones on the
    * spot: an empty parquet file gets no stats entry (scanStats sees
    * no rows), would never be referenced by the snapshot, and only
    * lingers as dead weight for vacuum to misattribute.
    */
  private def statStaged(spark: SparkSession, dir: String,
      statCols: Seq[String], staged: Seq[String]): Seq[ManifestEntry] = {
    val entries = Manifest.scanStats(spark, dir, statCols, Some(staged))
    val live = entries.map(_.name).toSet
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    staged.filterNot(live.contains)
      .foreach(n => fs.delete(new Path(s"$dir/$n"), false))
    entries
  }

  /** IN-PLACE upsert (MERGE INTO by key, last-writer-wins): rows of
    * `updates` REPLACE table rows sharing their `keyCol` and brand-new
    * keys are inserted — the third manifest-native verb next to delete
    * and compact. The affected-file search runs manifest-pruned (only
    * files whose recorded key range intersects the batch's are even
    * scanned — the stats doing WRITE planning, not just read planning),
    * survivors drop updated keys via a broadcast anti-join, and the
    * whole batch lands as delta files beside the originals. Cost is
    * O(affected files + batch), independent of table size; history
    * time-travels until vacuum.
    * Returns (affectedFiles, totalFiles).
    */
  def upsertInPlace(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, statCols: Seq[String] = Nil): (Int, Int) = {
    requireNoDvs(spark, dir)
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val newVersion = curV + 1
    // file-side scans run under PHYSICAL names (readPhysical); the
    // batch's logical key joins against the physical one
    val physKey = physKeyOf(spark, dir, keyCol)
    // manifest pruning first: the batch's key range bounds which files
    // can possibly contain a matching key
    val rng = updates.agg(min(col(keyCol)).cast("long"),
      max(col(keyCol)).cast("long")).head()
    val candidates =
      if (rng.isNullAt(0)) Seq.empty[ManifestEntry]
      else {
        val (lo, hi) = (rng.getLong(0), rng.getLong(1))
        entries.filter(e => e.stats.find(_.col == physKey)
          .forall(s => s.max >= lo && s.min <= hi))
      }
    val updKeys = updates.select(col(keyCol).as(physKey)).distinct()
    val affected =
      if (candidates.isEmpty) Set.empty[String]
      else Manifest.readPhysical(spark, dir,
          candidates.map(e => s"$dir/${e.name}"))
        // capture the file BEFORE the join — input_file_name() is
        // single-source and the semi join introduces a second one
        .select(col(physKey), input_file_name().as("f"))
        .join(broadcast(updKeys), Seq(physKey), "left_semi")
        .select("f").distinct()
        .collect().map(r => Manifest.relativize(spark, dir, r.getString(0)))
        .toSet
    val (hit, kept) = entries.partition(e => affected.contains(e.name))
    val prefix = s"upsert-v$newVersion"
    val partCols = partColsOf(entries)
    val claim = Manifest.claimVersion(spark, dir, newVersion)
    val hitRead = if (hit.isEmpty) null
      else Manifest.readPhysical(spark, dir,
        hit.map(e => s"$dir/${e.name}"))
    val survivorNames =
      if (hit.isEmpty) Seq.empty[String]
      else stageAndRename(spark, dir,
        hitRead.join(broadcast(updKeys), Seq(physKey), "left_anti"),
        partCols, s"$prefix-keep")
    // align the batch to the table (hard error on MISSING columns,
    // add-column evolution on extra ones)
    val (aligned, evolved) =
      alignForWrite(spark, dir, entries, updates, partCols)
    val batchNames = stageAndRename(spark, dir, aligned,
      partCols, s"$prefix-new")
    val newEntries =
      statStaged(spark, dir, statCols, survivorNames ++ batchNames)
    // change record: old images of replaced keys as deletes, the batch
    // as inserts (MERGE = delete + insert pairs in the feed) — both
    // already materialized by this commit's own plans
    val oldImages =
      (if (hit.isEmpty)
        Manifest.readTable(spark, dir).filter(lit(false))
      else hitRead.join(broadcast(updKeys), Seq(physKey), "left_semi"))
        .withColumn("_change_type", lit("delete"))
    Manifest.recordCdc(spark, dir, newVersion,
      oldImages.unionByName(
        aligned.withColumn("_change_type", lit("insert")),
        allowMissingColumns = true))
    Manifest.write(spark, dir, (kept ++ newEntries).sortBy(_.name),
      newVersion, claim = Some(claim), schema = evolved)
    (hit.size, entries.size)
  }

  /** Keyed IN-PLACE delete — the delete half of [[upsertInPlace]]:
    * every row whose `keyCol` appears in `keys` is removed, with the
    * same manifest-pruned affected-file search (only files whose
    * recorded key range intersects the key set's are scanned),
    * broadcast anti-join survivors, delta staging, and commit-time
    * change record. Cost O(affected files + keys); idempotent —
    * re-deleting absent keys is a metadata-only version bump, which
    * is what makes a replayed CDC batch safe.
    * Returns (affectedFiles, totalFiles).
    */
  def deleteByKeys(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, statCols: Seq[String] = Nil): (Int, Int) = {
    requireNoDvs(spark, dir)
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val newVersion = curV + 1
    val physKey = physKeyOf(spark, dir, keyCol)
    val delKeys = keys.select(col(keyCol).as(physKey)).distinct()
    val rng = delKeys.agg(min(col(physKey)).cast("long"),
      max(col(physKey)).cast("long")).head()
    val candidates =
      if (rng.isNullAt(0)) Seq.empty[ManifestEntry]
      else {
        val (lo, hi) = (rng.getLong(0), rng.getLong(1))
        entries.filter(e => e.stats.find(_.col == physKey)
          .forall(s => s.max >= lo && s.min <= hi))
      }
    val affected =
      if (candidates.isEmpty) Set.empty[String]
      else Manifest.readPhysical(spark, dir,
          candidates.map(e => s"$dir/${e.name}"))
        .select(col(physKey), input_file_name().as("f"))
        .join(broadcast(delKeys), Seq(physKey), "left_semi")
        .select("f").distinct()
        .collect().map(r => Manifest.relativize(spark, dir, r.getString(0)))
        .toSet
    val (hit, kept) = entries.partition(e => affected.contains(e.name))
    val claim = Manifest.claimVersion(spark, dir, newVersion)
    val hitRead = if (hit.isEmpty) null
      else Manifest.readPhysical(spark, dir,
        hit.map(e => s"$dir/${e.name}"))
    val deltaEntries =
      if (hit.isEmpty) Seq.empty
      else {
        val names = stageAndRename(spark, dir,
          hitRead.join(broadcast(delKeys), Seq(physKey), "left_anti"),
          partColsOf(hit), s"delta-v$newVersion")
        statStaged(spark, dir, statCols, names)
      }
    Manifest.recordCdc(spark, dir, newVersion,
      (if (hit.isEmpty)
        Manifest.readTable(spark, dir).filter(lit(false))
      else hitRead.join(broadcast(delKeys), Seq(physKey), "left_semi"))
        .withColumn("_change_type", lit("delete")))
    Manifest.write(spark, dir, (kept ++ deltaEntries).sortBy(_.name),
      newVersion, claim = Some(claim))
    (hit.size, entries.size)
  }

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
      statCols: Seq[String] = Nil): Unit = {
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val newVersion = curV + 1
    require(!partColsOf(entries).contains(column),
      s"$column is a partition column of $dir — repartition instead")
    val schema = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .getOrElse(Manifest.readTable(spark, dir).schema)
    require(schema.fieldNames.contains(column),
      s"$column does not exist in $dir " +
        s"(have ${schema.fieldNames.mkString(", ")})")
    val dropped = StructType(schema.fields.filterNot(_.name == column))
    require(dropped.nonEmpty, s"cannot drop the last column of $dir")
    Manifest.write(spark, dir, entries, newVersion,
      schema = Some(dropped))
  }

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
      to: String, statCols: Seq[String] = Nil): Unit = {
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val newVersion = curV + 1
    require(!partColsOf(entries).contains(from),
      s"$from is a partition column of $dir — partition names are " +
        "directory structure, not file payload")
    val schema = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .getOrElse(Manifest.readTable(spark, dir).schema)
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
    val renamed = StructType(schema.fields.map { f =>
      if (f.name != from) f
      else f.copy(name = to, metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(Manifest.PhysNameKey, Manifest.physNameOf(f))
          .build())
    })
    Manifest.write(spark, dir, entries, newVersion,
      schema = Some(renamed))
  }

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
    */
  def widenColumn(spark: SparkSession, dir: String, column: String,
      to: DataType, statCols: Seq[String] = Nil): Unit = {
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val newVersion = curV + 1
    require(!partColsOf(entries).contains(column),
      s"$column is a partition column of $dir — repartition instead")
    val schema = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .getOrElse(Manifest.readTable(spark, dir).schema)
    val field = schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"$column does not exist in $dir " +
          s"(have ${schema.fieldNames.mkString(", ")})"))
    if (field.dataType == to) return // idempotent
    require(WidenOk.contains((field.dataType, to)),
      s"cannot widen $column from ${field.dataType.simpleString} to " +
        s"${to.simpleString} — only lossless promotions " +
        "(integral up-chain, float→double) are metadata-only")
    val widened = StructType(schema.fields.map(f =>
      if (f.name == column) f.copy(dataType = to) else f))
    Manifest.write(spark, dir, entries, newVersion,
      schema = Some(widened))
  }

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
    * sees the commit as the replace it is. Returns
    * (rowsMarked, filesAdded).
    */
  def appendAndDeleteKeys(spark: SparkSession, dir: String,
      batch: DataFrame, doomed: DataFrame, keyCol: String,
      statCols: Seq[String] = Nil,
      txnApp: Option[(String, Long)] = None): (Long, Int) = {
    // app-scoped exactly-once (the appendInPlace contract): a replayed
    // replace — an ingest loop restarting after a crash downstream of
    // this commit — no-ops instead of re-marking and re-appending
    if (isReplay(spark, dir, None, txnApp)) return (0L, 0)
    val (v, carried, head) =
      Manifest.ensureVersionedDelta(spark, dir, statCols)
    val newVersion = v + 1
    val (names, totalRows) = Manifest.namesAndRows(spark, dir, v)
    val old = Manifest.dvMarks(spark, dir, v)
    val rawOpt =
      if (names.isEmpty) None // empty standing table: nothing to mark
      else Some(Manifest.readPhysical(spark, dir,
          names.map(n => s"$dir/$n"))
        .withColumn("_mk_f", Manifest.dvFileKey(Manifest.dvDepth(names)))
        .withColumn("_mk_p", col("_metadata.row_index")))
    // ONE standing-table scan (round 19): materialize the doomed-
    // matching rows — O(doomed) rows, all columns + (file, pos) — and
    // derive BOTH the new DV marks and the change record's delete
    // rows from the materialization. The old shape scanned the full
    // table once for the marks and a second time for the CDC delete
    // rows; at 100 TB the table scan is this commit's dominant cost,
    // and it was paid twice per replace batch.
    val matchedOpt = rawOpt.map { raw =>
      val logical = Manifest.currentVersion(spark, dir)
        .flatMap(Manifest.tableSchema(spark, dir, _))
        .map(Manifest.toLogicalKeeping(raw, _)).getOrElse(raw)
      logical
        .join(broadcast(doomed.select(col(keyCol)).distinct()),
          Seq(keyCol), "left_semi")
        .localCheckpoint(true)
    }
    val marks = matchedOpt match {
      case None => old.filter(lit(false))
      case Some(m) =>
        m.select(col("_mk_f").as("file"), col("_mk_p").as("pos"))
    }
    val claim = Manifest.claimVersion(spark, dir, newVersion)
    // stage the batch exactly like appendInPlace
    val sample = head.toSeq
    val partCols = partColsFor(spark, dir, sample)
    val (aligned, evolved) =
      alignForWrite(spark, dir, sample, batch, partCols)
    val stagedNames = stageAndRename(spark, dir, aligned, partCols,
      s"append-v$newVersion")
    val newEntries = statStaged(spark, dir, statCols, stagedNames)
    // ONE change record: newly-marked deletes + the staged inserts
    // (the feed reads recorded sets exclusively when present, so the
    // inserts must be restated here, unlike a plain append)
    // read the SURVIVING entries, not all staged names — statStaged
    // drops zero-row staged files (the round-16 footer fast path)
    // logical names on BOTH change-record sides: the delete rows come
    // off the logical `matched` frame, so the insert read projects to
    // logical too or a renamed-schema table's unionByName would
    // misalign (recordCdc stores the union back under physical names)
    val cdcIns0 =
      if (newEntries.isEmpty)
        Manifest.readTable(spark, dir).filter(lit(false))
          .withColumn("_change_type", lit("insert"))
      else spark.read.option("basePath", dir)
        .parquet(newEntries.map(e => s"$dir/${e.name}"): _*)
        .withColumn("_change_type", lit("insert"))
    val cdcIns = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .map(Manifest.toLogicalKeeping(cdcIns0, _)).getOrElse(cdcIns0)
    val marked = commitMarks(spark, dir, v, claim, marks, old, carried,
        newEntries, totalRows, statCols, evolved, txnApp) { deltaMarks =>
      val cdcDel = matchedOpt match {
        case None => cdcIns.filter(lit(false))
          .withColumn("_change_type", lit("delete"))
        case Some(m) => m
          .join(broadcast(deltaMarks), m("_mk_f") === deltaMarks("file") &&
            m("_mk_p") === deltaMarks("pos"), "left_semi")
          .drop("_mk_f", "_mk_p")
          .withColumn("_change_type", lit("delete"))
      }
      cdcDel.unionByName(cdcIns, allowMissingColumns = true)
    }
    (marked, stagedNames.size)
  }

  /** Exact row count of the parquet part files under `dir`, off their
    * FOOTERS — driver metadata reads, the [[Manifest.scanStats]]
    * fast-path pattern (round 20). Used to count a just-written mark
    * DELTA without a count job OR an Observation await (the listener
    * bus adds latency per commit); the delta is O(batch) files by
    * construction, so the footer loop is microseconds-per-file driver
    * work at any table scale.
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

  private def deleteMergeOnReadWhere(spark: SparkSession, dir: String,
      matching: DataFrame => DataFrame,
      statCols: Seq[String]): (Long, Int) = {
    // entries transfer verbatim — only NAMES (for the scan) and the
    // row total (for the flush policy) ever reach the driver; a
    // chunked base commits O(#chunks) metadata however big the table
    val (v, carried, _) =
      Manifest.ensureVersionedDelta(spark, dir, statCols)
    val (names, totalRows) = Manifest.namesAndRows(spark, dir, v)
    val raw = Manifest.readPhysical(spark, dir,
        names.map(n => s"$dir/$n"))
      // materialize position metadata BEFORE any projection, then
      // present logical names so `pred` resolves on a renamed table.
      // Keyed by the ROOT-RELATIVE name (Manifest.dvFileKey): Hive
      // partition dirs repeat basenames, and a basename key deletes
      // same-position rows in sibling partitions (round-17 fix)
      .withColumn("_mk_f", Manifest.dvFileKey(Manifest.dvDepth(names)))
      .withColumn("_mk_p", col("_metadata.row_index"))
    val logical = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .map(Manifest.toLogicalKeeping(raw, _)).getOrElse(raw)
    // re-marking an already-deleted row is harmless (set union), so
    // the scan can run raw — no need to subtract existing vectors
    val marks = matching(logical).select(
      col("_mk_f").as("file"), col("_mk_p").as("pos"))
    val old = Manifest.dvMarks(spark, dir, v)
    // claim the version BEFORE writing its vector: a lost commit race
    // must not leave an orphan dv-v{K} that the winner's snapshot
    // would appear to own
    val claim = Manifest.claimVersion(spark, dir, v + 1)
    // entries transfer VERBATIM: the delete is pure metadata. The
    // change record holds the NEWLY marked rows (marks already present
    // in the previous vector were deleted by an earlier commit and
    // must not restate) — read back by position from the raw scan
    val marked = commitMarks(spark, dir, v, claim, marks, old, carried,
        Nil, totalRows, statCols) { deltaMarks =>
      raw
        .join(broadcast(deltaMarks), raw("_mk_f") === deltaMarks("file") &&
          raw("_mk_p") === deltaMarks("pos"), "left_semi")
        .drop("_mk_f", "_mk_p")
        .withColumn("_change_type", lit("delete"))
    }
    (marked, names.size)
  }

  /** The vector commit both marking verbs share ([[appendAndDeleteKeys]],
    * [[deleteMergeOnReadWhere]]): version `v + 1`, under the caller's
    * `claim`, gets `v`'s vector plus the newly-marked subset of
    * `marks`, the change rows `cdcOf(delta)` builds, and a snapshot
    * carrying `carried` plus `added` entries. Returns the cumulative
    * mark count.
    *
    * DELTA-CARRIED vector (round 20): re-writing the ENTIRE cumulative
    * mark set through a Spark job on every commit (union + distinct +
    * Hive-partitioned write) and re-reading the old store for the
    * pre-count, the exceptAll and the CDC side cost O(cumulative marks)
    * per O(batch) commit — the dominant per-batch cost of the
    * keep-best ingest loop by batch 3. Instead:
    *   1. carry the old vector BYTE-IDENTICAL via filesystem copy —
    *      the appendInPlace precedent (round 17), no Spark job;
    *   2. write ONLY the new marks (anti-joined against `old`, so the
    *      store stays duplicate-free) as a Hive-keyed delta, read it
    *      back for the change record, then MOVE its parts into the
    *      carried `file=` dirs (pure renames — part names are
    *      write-unique);
    *   3. cumulative count = the `_COUNT` sidecar + the delta count
    *      off the delta's footers — zero count jobs (a pre-sidecar
    *      store falls back to one count, then carries).
    * The vector stays KEYED BY DATA FILE (Hive partitionBy) so a scan
    * task loads exactly its own file's positions — O(own marks) per
    * reader, never the whole table's vector through the driver.
    */
  private def commitMarks(spark: SparkSession, dir: String, v: Int,
      claim: String, marks: DataFrame, old: DataFrame,
      carried: Seq[Manifest.ChunkRef], added: Seq[ManifestEntry],
      totalRows: Long, statCols: Seq[String],
      schema: Option[StructType] = None,
      txnApp: Option[(String, Long)] = None)(
      cdcOf: DataFrame => DataFrame): Long = {
    val newVersion = v + 1
    val dvNew = new Path(Manifest.dvDir(dir, newVersion))
    val fs = dvNew.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dvNew, true) // a crashed claim's orphan must not merge
    val oldCount =
      if (!fs.exists(new Path(Manifest.dvDir(dir, v)))) 0L
      else Manifest.dvCountOf(spark, dir, v).getOrElse(old.count())
    Manifest.copyDvDir(spark, dir, v, newVersion)
    val dvTmp = new Path(s"${Manifest.dvDir(dir, newVersion)}.tmp")
    fs.delete(dvTmp, true)
    marks.join(old, Seq("file", "pos"), "left_anti")
      .repartition(col("file")).write.mode("overwrite")
      .partitionBy("file").parquet(dvTmp.toString)
    val delta = parquetRowsUnder(spark, dvTmp)
    val marked = oldCount + delta
    val deltaMarks =
      if (delta == 0L) old.filter(lit(false))
      else spark.read.parquet(dvTmp.toString)
        .select(col("file").cast("string"), col("pos"))
    Manifest.recordCdc(spark, dir, newVersion, cdcOf(deltaMarks))
    // land the delta AFTER the CDC read of its tmp materialization,
    // then stamp; a zero-mark commit installs no (empty) vector
    Manifest.moveDvDelta(spark, dir, newVersion, dvTmp)
    if (marked > 0) Manifest.stampDvCount(spark, dir, newVersion, marked)
    else fs.delete(dvNew, true): Unit
    Manifest.writeChunked(spark, dir, newVersion, carried, Seq(added),
      claim = Some(claim), schema = schema, txnApp = txnApp)
    // AUTO-FLUSH policy: past a marks-to-rows ratio the per-read
    // skip/anti-join work outweighs rewriting the marked files, and
    // an unbounded vector is exactly what makes any DV read path
    // dangerous at scale — flush immediately (its own commit), so
    // sustained delete workloads keep mark counts bounded without
    // manual maintenance. 0 disables; OPTIMIZE also consumes marks
    // inline for files it rewrites.
    val flushRatio = spark.conf.getOption("spark.graft.dv.autoFlushRatio")
      .map(_.toDouble).getOrElse(0.10)
    if (flushRatio > 0 && totalRows > 0 && marked > flushRatio * totalRows)
      flushDeleteVectors(spark, dir, statCols)
    marked
  }

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
    val v = Manifest.currentVersion(spark, dir).getOrElse(return 0)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(Manifest.dvDir(dir, v)))) return 0
    val entries = Manifest.read(spark, dir).get
    val dv = Manifest.dvMarks(spark, dir, v)
    val markedFiles = dv.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val (hit, kept) = entries.partition(e =>
      markedFiles.contains(e.name))
    val newVersion = v + 1
    val survivors = Manifest.readPhysical(spark, dir,
        hit.map(e => s"$dir/${e.name}"))
      .withColumn("_dv_f",
        Manifest.dvFileKey(Manifest.dvDepth(hit.map(_.name))))
      .withColumn("_dv_p", col("_metadata.row_index"))
      .join(broadcast(dv), col("_dv_f") === dv("file") &&
        col("_dv_p") === dv("pos"), "left_anti")
      .drop("_dv_f", "_dv_p")
    val names = stageAndRename(spark, dir, survivors, partColsOf(hit),
      s"flush-v$newVersion")
    val newEntries = statStaged(spark, dir, statCols, names)
    // flushing materializes deletes that were already logical at the
    // marking commit: zero change rows, recorded explicitly
    Manifest.recordCdc(spark, dir, newVersion,
      Manifest.readTable(spark, dir).filter(lit(false))
        .withColumn("_change_type", lit("insert")))
    // the new snapshot carries NO dv-v{newVersion}: vectors are spent
    Manifest.write(spark, dir, (kept ++ newEntries).sortBy(_.name),
      newVersion)
    hit.size
  }

  /** A caller-facing (logical) column's PHYSICAL name in this table's
    * files — identity unless the column was renamed.
    */
  private def physKeyOf(spark: SparkSession, dir: String,
      logical: String): String =
    Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .flatMap(_.fields.find(_.name == logical).map(Manifest.physNameOf))
      .getOrElse(logical)

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
    * verbatim. O(batch) cost, no file of the table is read or touched.
    *
    * `txn` makes the append EXACTLY-ONCE for streaming: the batch id
    * commits in the same atomic CURRENT write as the snapshot flip, so
    * a replayed micro-batch (foreachBatch re-delivery after a crash)
    * sees `lastTxn >= batchId` and becomes a no-op — there is no
    * window where data is visible but its txn is not.
    *
    * Live deletion vectors CARRY FORWARD: an append doesn't touch
    * existing files, so the previous version's marks stay exactly
    * valid — they are copied to the new version's vector under the
    * commit claim (a DELETE-then-INSERT SQL sequence composes without
    * a flush in between; only the REWRITING verbs require one).
    * Returns the number of files added (0 for a replay).
    */
  def appendInPlace(spark: SparkSession, dir: String, batch: DataFrame,
      statCols: Seq[String] = Nil, txn: Option[Long] = None,
      txnApp: Option[(String, Long)] = None,
      meta: Option[Map[String, Long]] = None,
      metaDelta: () => Option[Map[String, Long]] = () => None): Int = {
    if (isReplay(spark, dir, txn, txnApp)) return 0
    // DELTA commit: the base snapshot's chunk list is carried by
    // reference and only the new entries are written — appending to a
    // million-file table costs O(batch) metadata, not O(table);
    // alignment only ever needs one sample entry.
    val (v, carried, head) =
      Manifest.ensureVersionedDelta(spark, dir, statCols)
    val newVersion = v + 1
    val sample = head.toSeq
    val partCols = partColsFor(spark, dir, sample)
    val (aligned, evolved) =
      alignForWrite(spark, dir, sample, batch, partCols)
    val names = stageAndRename(spark, dir, aligned,
      partCols, s"append-v$newVersion")
    val newEntries = statStaged(spark, dir, statCols, names)
    val claim =
      if (!Manifest.hasDeletionVectors(spark, dir)) None
      else {
        // claim BEFORE writing dv-v{K+1}: a lost commit race must not
        // leave an orphan vector the winner's snapshot appears to own
        val c = Manifest.claimVersion(spark, dir, newVersion)
        // the carried vector is BYTE-IDENTICAL to the previous one —
        // a filesystem copy, not a Spark job (round-17: the rewrite
        // job was ~1-2 s of fixed cost per append on a DV-carrying
        // table, pure commit machinery)
        Manifest.copyDvDir(spark, dir, v, newVersion)
        Some(c)
      }
    Manifest.writeChunked(spark, dir, newVersion, carried,
      Seq(newEntries), txn, claim = claim,
      schema = evolved, txnApp = txnApp, meta = meta,
      metaDelta = metaDelta)
    newEntries.size
  }

  /** Replay decision for an exactly-once append. App-scoped when the
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

  /** Commit executor-staged parquet dot-files as an APPEND snapshot —
    * the driver half of the connector's STREAMING write
    * (`writeStream.toTable`): tasks stage via the row-level writer,
    * this renames them in, stats them, carries live deletion vectors,
    * and commits with the epoch as `txn` — so a replayed epoch
    * (restart re-delivery) deletes its re-staged files and no-ops,
    * the same exactly-once guard as [[graft.streaming.ManifestSink]].
    * Returns files committed (0 for a replay).
    */
  def commitStagedAppend(spark: SparkSession, dir: String,
      stagedAbs: Seq[String], txn: Option[Long],
      statCols: Seq[String] = Nil,
      txnApp: Option[(String, Long)] = None): Int = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // replay guard: app-scoped watermark when the writer declared (or
    // the connector defaulted) a txnAppId, else the global
    // single-writer epoch max
    if (isReplay(spark, dir, txn, txnApp)) {
      stagedAbs.foreach(p => fs.delete(new Path(p), false))
      return 0
    }
    // DELTA commit, like appendInPlace: carried chunks by reference,
    // O(epoch batch) metadata per streaming commit
    val (curV, carried, _) =
      Manifest.ensureVersionedDelta(spark, dir, statCols)
    val newVersion = curV + 1
    // claim BEFORE landing files: two concurrent epoch commits (the
    // multi-writer txnAppId scenario) both compute the same K and —
    // with deterministic target names — the same targets; POSIX
    // rename silently replaces, so the loser would overwrite the
    // winner's landed data. Claim-first makes the loser throw here
    // with its staged dot-files intact (retry/abort cleans them), and
    // the claim id in the landed names makes collision impossible
    // even across a lease takeover.
    val claim = Manifest.claimVersion(spark, dir, newVersion)
    val tag = claim.take(8)
    val landed = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val names = stagedAbs.sorted.zipWithIndex.map { case (p, i) =>
        val sub = Manifest.relativize(spark, dir, p)
          .split('/').dropRight(1).mkString("/")
        val tgt = (if (sub.isEmpty) "" else s"$sub/") +
          s"append-v$newVersion-$tag-$i.parquet"
        require(fs.rename(new Path(p), new Path(s"$dir/$tgt")),
          s"staged file $p failed to land as $tgt")
        landed += new Path(s"$dir/$tgt")
        tgt
      }
      val newEntries = statStaged(spark, dir, statCols, names)
      if (Manifest.hasDeletionVectors(spark, dir))
        Manifest.copyDvDir(spark, dir, newVersion - 1, newVersion)
      Manifest.writeChunked(spark, dir, newVersion, carried,
        Seq(newEntries), txn, claim = Some(claim), txnApp = txnApp)
      newEntries.size
    } catch { case e: Throwable =>
      // Spark does not call abort() after a failed driver commit —
      // remove already-landed final-looking files so a lost race
      // leaves nothing the next listing or vacuum could mistake for
      // committed data
      landed.foreach(p => try fs.delete(p, false) catch {
        case _: java.io.IOException => ()
      })
      throw e
    }
  }

  /** DYNAMIC partition overwrite — `df.writeTo(t).overwritePartitions()`:
    * the batch lands as fresh files and every partition directory it
    * TOUCHES is superseded whole; untouched partitions carry their
    * entries verbatim (Spark's dynamic-overwrite contract, as a pure
    * metadata swap over staged files). Requires a partitioned table
    * and flushed vectors (the replaced partitions' marks would die
    * with their files). Returns (replacedFiles, addedFiles).
    */
  /** `expectedBase` makes the overwrite COMPARE-AND-SWAP (round-17
    * advisor): a caller that computed `batch` from a snapshot read at
    * version V passes Some(V), and the commit fails loudly if the
    * table has advanced past V by the time the claim is taken —
    * closing the read/commit TOCTOU window (a concurrent append
    * landing between the caller's read and this commit would
    * otherwise have its partition contents clobbered by a fold that
    * never saw them). The claim's own basis check then guarantees no
    * FURTHER commit can interleave: of two writers claiming V+1, one
    * fails at claim time.
    */
  def overwritePartitionsInPlace(spark: SparkSession, dir: String,
      batch: DataFrame, statCols: Seq[String] = Nil,
      expectedBase: Option[Int] = None): (Int, Int) = {
    requireNoDvs(spark, dir)
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    expectedBase.foreach(e => if (e != curV)
      throw new java.util.ConcurrentModificationException(
        s"$dir advanced to v$curV past the caller's read at v$e — " +
          "the staged fold was computed from a stale snapshot; " +
          "re-read and retry in a single-writer maintenance window"))
    val newVersion = curV + 1
    val partCols = partColsFor(spark, dir, entries)
    require(partCols.nonEmpty,
      s"$dir is unpartitioned — dynamic partition overwrite needs " +
        "partition directories; use overwriteInPlace for whole-table")
    val (aligned, evolved) =
      alignForWrite(spark, dir, entries, batch, partCols)
    val claim = Manifest.claimVersion(spark, dir, newVersion)
    val names = stageAndRename(spark, dir, aligned, partCols,
      s"dynover-v$newVersion")
    commitDynamicCore(spark, dir, entries, names, newVersion,
      claim, statCols, evolved)
  }

  /** Commit executor-staged dot-files as a DYNAMIC partition
    * overwrite — the driver half of the connector's V2 batch write
    * (`df.writeTo(t).overwritePartitions()` has no V1 bridge).
    */
  def commitStagedDynamicOverwrite(spark: SparkSession, dir: String,
      stagedAbs: Seq[String], statCols: Seq[String] = Nil): (Int, Int) = {
    requireNoDvs(spark, dir)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val newVersion = curV + 1
    // same contract as overwritePartitionsInPlace: on an unpartitioned
    // table every staged file shares dirname "", and "replace touched
    // partitions" would silently degrade into a full-table overwrite
    require(partColsFor(spark, dir, entries).nonEmpty,
      s"$dir is unpartitioned — dynamic partition overwrite needs " +
        "partition directories; use overwriteInPlace for whole-table")
    val claim = Manifest.claimVersion(spark, dir, newVersion)
    val tag = claim.take(8)
    val landed = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val names = stagedAbs.sorted.zipWithIndex.map { case (p, i) =>
        val sub = Manifest.relativize(spark, dir, p)
          .split('/').dropRight(1).mkString("/")
        val tgt = (if (sub.isEmpty) "" else s"$sub/") +
          s"dynover-v$newVersion-$tag-$i.parquet"
        require(fs.rename(new Path(p), new Path(s"$dir/$tgt")),
          s"staged file $p failed to land as $tgt")
        landed += new Path(s"$dir/$tgt")
        tgt
      }
      commitDynamicCore(spark, dir, entries, names, newVersion,
        claim, statCols, None)
    } catch { case e: Throwable =>
      landed.foreach(p => try fs.delete(p, false) catch {
        case _: java.io.IOException => ()
      })
      throw e
    }
  }

  /** Shared tail of the two dynamic-overwrite entry points: every
    * partition directory the staged files TOUCH is superseded whole,
    * untouched partitions carry verbatim; pre/post images recorded.
    */
  private def commitDynamicCore(spark: SparkSession, dir: String,
      entries: Seq[ManifestEntry], names: Seq[String], newVersion: Int,
      claim: String, statCols: Seq[String],
      evolved: Option[StructType]): (Int, Int) = {
    val newEntries = statStaged(spark, dir, statCols, names)
    val touched = names.map(_.split('/').dropRight(1).mkString("/")).toSet
    val (hit, kept) = entries.partition(e =>
      touched.contains(e.name.split('/').dropRight(1).mkString("/")))
    // change record: replaced partitions' rows out, the batch in
    val pre =
      if (hit.isEmpty)
        Manifest.readTable(spark, dir).filter(lit(false))
      else Manifest.readPhysical(spark, dir,
        hit.map(e => s"$dir/${e.name}"))
    Manifest.recordCdc(spark, dir, newVersion,
      pre.withColumn("_change_type", lit("delete"))
        .unionByName(
          Manifest.readPhysical(spark, dir,
            newEntries.map(e => s"$dir/${e.name}"))
            .withColumn("_change_type", lit("insert")),
          allowMissingColumns = true))
    Manifest.write(spark, dir, (kept ++ newEntries).sortBy(_.name),
      newVersion, claim = Some(claim), schema = evolved)
    (hit.size, newEntries.size)
  }

  /** IN-PLACE overwrite — INSERT OVERWRITE for a manifest-managed
    * table: the batch lands as fresh delta files and the new snapshot
    * references ONLY them, superseding every prior file (and any live
    * deletion vector — vectors are per-version, and the new version
    * has none). Prior files stay on disk for time travel until
    * [[Manifest.vacuum]]; cost is O(batch), nothing is read. The
    * batch aligns to the table's recorded schema exactly as
    * [[appendInPlace]] (missing column = hard error, extra column =
    * add-column evolution), so a replacement cannot silently drop or
    * re-type a column. Returns the number of files written.
    */
  def overwriteInPlace(spark: SparkSession, dir: String, batch: DataFrame,
      statCols: Seq[String] = Nil, txn: Option[Long] = None,
      meta: Option[Map[String, Long]] = None,
      metaDelta: () => Option[Map[String, Long]] = () => None): Int = {
    if (txn.exists(t => Manifest.lastTxn(spark, dir).exists(_ >= t)))
      return 0
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val newVersion = curV + 1
    val partCols = partColsFor(spark, dir, entries)
    val (aligned, evolved) =
      alignForWrite(spark, dir, entries, batch, partCols)
    val names = stageAndRename(spark, dir, aligned,
      partCols, s"overwrite-v$newVersion")
    val newEntries = statStaged(spark, dir, statCols, names)
    Manifest.write(spark, dir, newEntries.sortBy(_.name),
      newVersion, txn, schema = evolved, meta = meta,
      metaDelta = metaDelta)
    newEntries.size
  }

  /** ADD COLUMN as a METADATA-ONLY commit — the mirror of
    * [[dropColumn]]: the recorded schema gains `field` (stored
    * nullable, as all recorded fields are), no data file is touched,
    * and every existing file NULL-backfills the column at read through
    * the snapshot's schema. Later write batches may supply it (they
    * align by name). Errors if the column already exists.
    */
  def addColumn(spark: SparkSession, dir: String,
      field: StructField, statCols: Seq[String] = Nil): Unit = {
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val newVersion = curV + 1
    val schema = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .getOrElse(Manifest.readTable(spark, dir).schema)
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
    Manifest.write(spark, dir, entries, newVersion,
      schema = Some(StructType(schema.fields :+ field.copy(nullable = true))))
  }

  /** IN-PLACE compaction — OPTIMIZE for a manifest-managed table,
    * BIN-PACKED: within each directory only the small-file tail
    * (below half the target size) merges into staged outputs that are
    * RENAMED in beside the originals (`compact-v{K}-` prefix);
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
    * LIVE DELETION VECTORS ARE APPLIED INLINE: compact = flush + merge
    * in one rewrite — every group containing a marked file rewrites
    * with the marks subtracted, and the new snapshot carries no
    * vector, saving the separate flush rewrite a maintenance window
    * would otherwise pay.
    * Returns (filesBefore, filesAfter).
    */
  /** Max data-file count in any leaf partition directory of the
    * CURRENT snapshot — pure manifest metadata (no listing, no file
    * opens). This is the number an append-heavy standing index's
    * auto-compaction cadence gates on: past a per-directory file
    * budget, probe cost goes file-open-bound instead of row-bound.
    */
  def maxFilesPerDir(spark: SparkSession, dir: String): Int =
    Manifest.read(spark, dir).map(
      _.groupBy(_.name.split('/').dropRight(1).mkString("/"))
        .values.map(_.size).maxOption.getOrElse(0)).getOrElse(0)

  def compactInPlace(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20,
      statCols: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil): (Int, Int) = {
    require(zorderBy.isEmpty || zorderBy.size >= 2,
      s"ZORDER BY needs >= 2 columns, got $zorderBy — a single-column " +
        "cluster is a plain sort, not a curve")
    val zBits = if (zorderBy.isEmpty) 16 else math.min(16, 63 / zorderBy.size)
    val (curVersion, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val newVersion = curVersion + 1
    val dv = Manifest.dvMarks(spark, dir, curVersion)
    val markedFiles = dv.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val byDir = entries.groupBy(e =>
      e.name.split('/').dropRight(1).mkString("/"))
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
    def splitGroup(es: Seq[ManifestEntry]) = es.partition { e =>
      zorderBy.nonEmpty || e.bytes < targetBytes / 2 ||
        markedFiles.contains(e.name)
    }
    // a group rewrites when its rewriteable tail actually shrinks
    // (>= 2 files merge into fewer) or carries marks to consume
    val (toMergeFull, untouchedFull) = byDir.partition { case (_, es) =>
      val (tail, _) = splitGroup(es)
      (tail.size > bound(tail) && tail.size >= 2) ||
        zorderBy.nonEmpty ||
        tail.exists(e => markedFiles.contains(e.name))
    }
    val toMerge = toMergeFull.map { case (sub, es) =>
      sub -> splitGroup(es)._1
    }
    val rightSized = toMergeFull.toSeq.flatMap { case (_, es) =>
      splitGroup(es)._2
    }
    val untouched = untouchedFull
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // merge groups read FILES under the recorded physical schema
    // (minus directory-encoded partition columns): a widened table
    // mixes physical widths on disk, and bare inference would pin one
    val partSet = partColsOf(entries).toSet
    val mergeSchema: Option[StructType] =
      Manifest.tableSchema(spark, dir, curVersion)
        .map(s => StructType(Manifest.physicalSchema(s)
          .fields.filterNot(f => partSet.contains(f.name))))
    val mergedNames =
      if (toMerge.isEmpty) Seq.empty[String]
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, toMerge.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          val jobs = toMerge.toSeq.sortBy(_._1).map { case (sub, es) =>
            scala.concurrent.Future {
              // read the FILES (no basePath): contents match the
              // originals exactly — partition values stay directory-
              // encoded, so the merged file drops in as a sibling
              val tmp = s"$dir/.tmp-compact-v$newVersion-${sub.hashCode}"
              val paths = es.map(e => s"$dir/${e.name}")
              val raw = mergeSchema
                .map(spark.read.schema(_).parquet(paths: _*))
                .getOrElse(spark.read.parquet(paths: _*))
              // subtract live deletion marks inline (broadcast
              // anti-join — no shuffle) so this rewrite doubles as
              // the flush for its group's vectors
              val base =
                if (es.exists(e => markedFiles.contains(e.name)))
                  raw.withColumn("_dv_f",
                      Manifest.dvFileKey(Manifest.dvDepth(es.map(_.name))))
                    .withColumn("_dv_p", col("_metadata.row_index"))
                    .join(broadcast(dv), col("_dv_f") === dv("file") &&
                      col("_dv_p") === dv("pos"), "left_anti")
                    .drop("_dv_f", "_dv_p")
                else raw
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
                } else base.coalesce(bound(es))
              merged.write.mode("overwrite").parquet(tmp)
              val prefix = if (sub.isEmpty) "" else s"$sub/"
              val names = fs.listStatus(new Path(tmp))
                .filter(f => f.isFile &&
                  f.getPath.getName.endsWith(".parquet"))
                .map { f =>
                  val target =
                    s"${prefix}compact-v$newVersion-${f.getPath.getName}"
                  fs.mkdirs(new Path(s"$dir/$target").getParent)
                  fs.rename(f.getPath, new Path(s"$dir/$target"))
                  target
                }.toSeq
              fs.delete(new Path(tmp), true)
              names
            }
          }
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(jobs),
            scala.concurrent.duration.Duration(30, "min")).flatten
        } finally pool.shutdown()
      }
    val mergedEntries = statStaged(spark, dir, statCols, mergedNames)
    // an explicit EMPTY change record: compaction (even one spending
    // deletion vectors — their rows were already logically deleted at
    // the marking commit) changes no logical row, and the feed must
    // know that without diffing
    Manifest.recordCdc(spark, dir, newVersion,
      Manifest.readTable(spark, dir).filter(lit(false))
        .withColumn("_change_type", lit("insert")))
    // right-sized files of rewriting groups carry their entries
    // verbatim, exactly like untouched groups — metadata only
    Manifest.write(spark, dir,
      (untouched.values.flatten.toSeq ++ rightSized ++ mergedEntries)
        .sortBy(_.name),
      newVersion)
    (entries.size,
      untouched.values.map(_.size).sum + rightSized.size +
        mergedEntries.size)
  }

  /** IN-PLACE copy-on-write delete — the manifest-native form that
    * retires [[deleteRewrite]]'s carried-file copies entirely: the
    * survivors of the affected files are written into a versioned
    * delta subdirectory, and the commit is a METADATA swap (new
    * snapshot = untouched entries verbatim + fresh delta entries,
    * CURRENT pointer flips last). Untouched files are not copied, not
    * moved, not even opened: a 100 TB delete costs exactly the
    * affected-file rewrite plus one small manifest write. Superseded
    * files stay on disk, so every prior version remains time-
    * travel-readable until [[Manifest.vacuum]] reclaims them.
    * Returns (affectedFiles, totalFiles).
    */
  def deleteInPlace(spark: SparkSession, dir: String, pred: Column,
      statCols: Seq[String] = Nil): (Int, Int) = {
    requireNoDvs(spark, dir)
    // delta-aware: only file NAMES reach the driver (the scan needs
    // them regardless); the commit removes affected entries from a
    // chunked base by anti-join and never restates the full list
    val (curV, carried, _) =
      Manifest.ensureVersionedDelta(spark, dir, statCols)
    val allNames = Manifest.namesAndRows(spark, dir, curV)._1
    val paths = allNames.map(n => s"$dir/$n")
    // phase 1: affected files via pushed-predicate scan over the
    // manifest's file list; collect bounded by #files, never rows.
    // basePath keeps partition-directory columns usable in `pred`.
    val curSchema = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
    def logicalView(df: DataFrame): DataFrame =
      curSchema.map(Manifest.toLogicalKeeping(df, _)).getOrElse(df)
    def physicalStage(df: DataFrame): DataFrame =
      curSchema.map(Manifest.toPhysicalKeeping(df, _)).getOrElse(df)
    val affected = logicalView(Manifest.readPhysical(spark, dir, paths))
      .filter(pred)
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => Manifest.relativize(spark, dir, r.getString(0)))
      .toSet
    val hitNames = allNames.filter(affected.contains)
    val newVersion = curV + 1
    // claim BEFORE side writes (change record, staged deltas) so a
    // lost commit race cannot leave another writer's version number
    // pointing at this writer's artifacts
    val claim = Manifest.claimVersion(spark, dir, newVersion)
    val hitRead = if (hitNames.isEmpty) null
      else logicalView(Manifest.readPhysical(spark, dir,
        hitNames.map(n => s"$dir/$n")))
    val deltaEntries =
      if (hitNames.isEmpty) Seq.empty
      else {
        // survivors = rows NOT matching (NULL predicate RETAINS the
        // row), rewritten with the table's own partitioning so every
        // data file stays at a consistent depth
        val names = stageAndRename(spark, dir,
          physicalStage(hitRead.filter(!coalesce(pred, lit(false)))),
          partColsOfNames(hitNames), s"delta-v$newVersion")
        statStaged(spark, dir, statCols, names)
      }
    // record the commit's change set (the deleted rows — one extra
    // O(affected) pass over the same pruned file list): consumption
    // becomes a file read, never a re-diff
    Manifest.recordCdc(spark, dir, newVersion,
      (if (hitNames.isEmpty)
        Manifest.readTable(spark, dir).filter(lit(false))
      else hitRead.filter(coalesce(pred, lit(false))))
        .withColumn("_change_type", lit("delete")))
    Manifest.writeChunkedDelta(spark, dir, newVersion, carried,
      affected, Seq(deltaEntries), claim = Some(claim))
    (hitNames.size, allNames.size)
  }

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
      set: Map[String, Column], statCols: Seq[String] = Nil): (Int, Int) = {
    requireNoDvs(spark, dir)
    val (curV, entries) = Manifest.ensureVersioned(spark, dir, statCols)
    val paths = entries.map(e => s"$dir/${e.name}")
    val schema = Manifest.readTable(spark, dir).schema
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    set.keys.foreach(c => require(types.contains(c),
      s"UPDATE target column $c does not exist in $dir " +
        s"(have ${types.keys.mkString(", ")})"))
    val safePred = coalesce(pred, lit(false))
    val curSchema = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
    def logicalView(df: DataFrame): DataFrame =
      curSchema.map(Manifest.toLogicalKeeping(df, _)).getOrElse(df)
    def physicalStage(df: DataFrame): DataFrame =
      curSchema.map(Manifest.toPhysicalKeeping(df, _)).getOrElse(df)
    val affected = logicalView(Manifest.readPhysical(spark, dir, paths))
      .filter(safePred)
      .select(input_file_name().as("f")).distinct()
      .collect().map(r => Manifest.relativize(spark, dir, r.getString(0)))
      .toSet
    val (hit, kept) = entries.partition(e => affected.contains(e.name))
    val newVersion = curV + 1
    val claim = Manifest.claimVersion(spark, dir, newVersion)
    val hitRead = if (hit.isEmpty) null
      else logicalView(Manifest.readPhysical(spark, dir,
        hit.map(e => s"$dir/${e.name}")))
    def assigned(c: String) = set(c).cast(types(c)).as(c)
    val deltaEntries =
      if (hit.isEmpty) Seq.empty
      else {
        val cols = hitRead.columns.map { c =>
          if (set.contains(c))
            when(safePred, assigned(c)).otherwise(col(c)).as(c)
          else col(c)
        }
        val names = stageAndRename(spark, dir,
          physicalStage(hitRead.select(cols.toSeq: _*)),
          partColsOf(hit), s"delta-v$newVersion")
        statStaged(spark, dir, statCols, names)
      }
    val changes =
      if (hit.isEmpty)
        Manifest.readTable(spark, dir).filter(lit(false))
          .withColumn("_change_type", lit("insert"))
      else {
        val matched = hitRead.filter(safePred)
        val postCols = hitRead.columns.map(c =>
          if (set.contains(c)) assigned(c) else col(c))
        matched.withColumn("_change_type", lit("delete"))
          .unionByName(matched.select(postCols.toSeq: _*)
            .withColumn("_change_type", lit("insert")))
      }
    Manifest.recordCdc(spark, dir, newVersion, changes)
    Manifest.write(spark, dir, (kept ++ deltaEntries).sortBy(_.name),
      newVersion, claim = Some(claim))
    (hit.size, entries.size)
  }

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
    *  - Staged files rename to `rlo-v{K}-i.parquet` entries with
    *    stats-on-write; `replaced` entries leave the snapshot (files
    *    stay on disk for time travel until vacuum).
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
      expectedVersion: Int, statCols: Seq[String]): Int = {
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cur = Manifest.currentVersion(spark, dir).getOrElse(0)
    if (cur != expectedVersion) {
      stagedAbs.foreach(p => fs.delete(new Path(p), false))
      throw new java.util.ConcurrentModificationException(
        s"table $dir moved from v$expectedVersion to v$cur during the " +
          "row-level operation — re-run the statement")
    }
    val newVersion = cur + 1
    val claim = Manifest.claimVersion(spark, dir, newVersion)
    // staged dot-files land beside their partition's originals: the
    // relative subdirectory (Hive k=v segments, when the table is
    // partitioned) carries into the committed name, so partition-
    // equality pruning treats rewritten files like any other
    val names = stagedAbs.sorted.zipWithIndex.map { case (p, i) =>
      val sub = Manifest.relativize(spark, dir, p)
        .split('/').dropRight(1).mkString("/")
      val tgt = (if (sub.isEmpty) "" else s"$sub/") +
        s"rlo-v$newVersion-$i.parquet"
      require(fs.rename(new Path(p), new Path(s"$dir/$tgt")),
        s"staged file $p failed to land as $tgt")
      tgt
    }
    val newEntries = statStaged(spark, dir, statCols, names)
    val entries = Manifest.readVersion(spark, dir, cur).getOrElse(Seq.empty)
    val replacedSet = replaced.toSet
    val (hit, kept) = entries.partition(e => replacedSet.contains(e.name))
    val recorded = Manifest.tableSchema(spark, dir, cur)
    // PHYSICAL reads: renamed columns live in files under their
    // original names, and a widened table has files of both widths
    def readNames(ns: Seq[ManifestEntry]): DataFrame =
      Manifest.readPhysical(spark, dir,
        ns.map(e => s"$dir/${e.name}"), Some(cur))
    val dvOld = Manifest.dvMarks(spark, dir, cur)
    val empty = {
      val logical = Manifest.readTable(spark, dir).filter(lit(false))
      recorded.map(Manifest.toPhysicalKeeping(logical, _))
        .getOrElse(logical)
    }
    // pre-images: replaced files' rows minus their DV marks (a row
    // already deleted by an earlier commit must not restate as a
    // second delete)
    val pre =
      if (hit.isEmpty) empty
      else readNames(hit)
        .withColumn("_dv_f",
          Manifest.dvFileKey(Manifest.dvDepth(hit.map(_.name))))
        .withColumn("_dv_p", col("_metadata.row_index"))
        .join(broadcast(dvOld), col("_dv_f") === dvOld("file") &&
          col("_dv_p") === dvOld("pos"), "left_anti")
        .drop("_dv_f", "_dv_p")
    val post = if (newEntries.isEmpty) empty else readNames(newEntries)
    Manifest.recordCdc(spark, dir, newVersion,
      pre.withColumn("_change_type", lit("delete"))
        .unionByName(post.withColumn("_change_type", lit("insert"))))
    // DV carry: marks on kept files stay valid; marks on replaced
    // files were consumed by the DV-subtracted scan. Keyed on the
    // REPLACED set — bounded by the operation's touch count, not the
    // table's file count
    val replacedNames = hit.map(_.name)
    val carried = (if (replacedNames.isEmpty) dvOld
      else dvOld.where(!col("file").isin(replacedNames: _*))).cache()
    val nCarried = carried.count()
    if (nCarried > 0) {
      carried.repartition(col("file")).write.mode("overwrite")
        .partitionBy("file").parquet(Manifest.dvDir(dir, newVersion))
      Manifest.stampDvCount(spark, dir, newVersion, nCarried)
    }
    carried.unpersist()
    Manifest.write(spark, dir, (kept ++ newEntries).sortBy(_.name),
      newVersion, claim = Some(claim))
    newEntries.size
  }

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
