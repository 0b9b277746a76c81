package graft.ops

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter,
  FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory,
  PartitioningUtils, WriteJobStatsTracker, WriteTaskStats,
  WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Data-file I/O of a manifest table, planned from and reported into
  * [[ManifestEntry]]s — the file metadata flows writer → entry →
  * reader, and the filesystem is asked for none of it.
  *
  *  - [[scan]] reads a file set from its entries: a `FileIndex` over
  *    `(name, bytes)` whose partition values are parsed from the entry
  *    paths (Spark's own unescaping and casts, typed by the recorded
  *    schema), wrapped in a parquet `HadoopFsRelation`. A
  *    `spark.read.parquet(paths)` over the same files checks each path
  *    exists, runs a listing job with one task per path, and infers
  *    partitions — all to rediscover what the entries already say.
  *    Partition filters, dynamic pruning included, prune in
  *    `listFiles`; `_metadata`, `input_file_name()`, `inputFiles` and
  *    `sizeInBytes` behave as over a listed index.
  *  - [[write]] writes a frame with the same parquet writer
  *    `DataFrameWriter` uses, under a commit protocol that names each
  *    file `<prefix>-<task>-<attempt>-<n>.parquet` straight in its
  *    partition directory, and a stats tracker that reports each
  *    file's rows, bytes and stat-column ranges — the entries, with no
  *    staging directory, rename pass, listing or footer re-read.
  *    Files of a failed task or job stay unreferenced, and
  *    [[Manifest.vacuum]] reclaims them.
  */
private[graft] object TableFiles {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The `k=v` directory segments of a table-relative file name, with
    * Spark's unescaping of the column name; values stay raw (escaped).
    */
  private def partSegments(name: String): Seq[(String, String)] =
    name.split('/').dropRight(1).toSeq.filter(_.contains("=")).map { s =>
      val i = s.indexOf('=')
      (ExternalCatalogUtils.unescapePathName(s.take(i)), s.drop(i + 1))
    }

  /** A raw partition-path value as the catalyst value of `dt` — the
    * cast Spark's partition discovery applies under a declared schema
    * (`__HIVE_DEFAULT_PARTITION__` → null).
    */
  private def partValue(spark: SparkSession, dt: DataType,
      raw: String): Any =
    PartitioningUtils.castPartValueToDesiredType(dt, raw,
      DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone")))

  /** Read `files` (table-relative name, bytes) of the table at `dir`
    * under `schema` (physical names). Columns named by the files'
    * `k=v` directories are partition columns, typed by `schema`; the
    * result lists data columns then partition columns, as a
    * `basePath` read under the same schema does.
    */
  def scan(spark: SparkSession, dir: String, files: Seq[(String, Long)],
      schema: StructType): DataFrame = {
    val partCols = files.headOption.toSeq.flatMap(f => partSegments(f._1))
      .map(_._1)
    val partSchema = StructType(partCols.map(c =>
      StructField(c, schema(c).dataType, nullable = true)))
    val dataSchema = StructType(schema.fields.filterNot(f =>
      partCols.contains(f.name)))
    // qualified one by one, file paths render exactly as a listing's
    // (`file:///…` in input_file_name, `file:/…` in `_metadata`)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def qualified(name: String) = new Path(s"$dir/$name")
      .makeQualified(fs.getUri, fs.getWorkingDirectory)
    val parts = files.groupBy(f => parentOf(f._1)).toSeq.sortBy(_._1)
      .map { case (_, fs) =>
        val seg = partSegments(fs.head._1).toMap
        val values = InternalRow.fromSeq(partSchema.fields.toSeq.map(f =>
          seg.get(f.name).map(partValue(spark, f.dataType, _)).orNull))
        PartitionDirectory(values, fs.map { case (name, bytes) =>
          FileStatusWithMetadata(new FileStatus(bytes, false, 0, 0L, 0L,
            qualified(name)), Map.empty)
        })
      }
    val index = new EntryIndex(
      parts.flatMap(_.files.map(_.getPath)), parts, partSchema)
    classic(spark).baseRelationToDataFrame(HadoopFsRelation(index,
      partSchema, dataSchema, None, new ParquetFileFormat, Map.empty)(
      classic(spark)))
  }

  private def parentOf(name: String): String =
    name.split('/').dropRight(1).mkString("/")

  /** A file index over a fixed, known file set: no listing, no status
    * call. Equal to another over the same files (exchange and subquery
    * reuse compare relations).
    */
  private final class EntryIndex(val rootPaths: Seq[Path],
      parts: Seq[PartitionDirectory], val partitionSchema: StructType)
      extends FileIndex {
    private def files = parts.flatMap(_.files)

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) parts
      else {
        val pred = Predicate.createInterpreted(
          partitionFilters.reduce(And(_, _)).transform {
            case a: AttributeReference =>
              val i = partitionSchema.indexWhere(_.name == a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        pred.initialize(0)
        parts.filter(p => pred.eval(p.values))
      }

    override def inputFiles: Array[String] =
      files.map(_.getPath.toUri.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum

    override def equals(o: Any): Boolean = o match {
      case e: EntryIndex =>
        rootPaths == e.rootPaths && partitionSchema == e.partitionSchema
      case _ => false
    }
    override def hashCode: Int = rootPaths.hashCode
  }

  /** Write `df` as new data files under `dir` (partitioned by
    * `partCols`, which `df` carries) and return their entries, named
    * relative to `root` (the table; `dir` is `root` or one of its
    * partition directories). `statCols` (physical names) get ranges
    * with [[Manifest.scanStats]]' encodings; a stat column that is a
    * partition column takes its value from the entry's path, typed by
    * `partTypes`. Zero-row files are deleted, not entered. The
    * session's parquet settings and `maxRecordsPerFile` apply.
    */
  def write(spark: SparkSession, root: String, dir: String, df: DataFrame,
      partCols: Seq[String], prefix: String, statCols: Seq[String],
      partTypes: StructType = new StructType()): Seq[ManifestEntry] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val qdir = fs.makeQualified(new Path(dir)).toString
    val qroot = fs.makeQualified(new Path(root)).toUri.getPath
    val qe = df.queryExecution
    val plan = qe.executedPlan
    val output = plan.output.map(_.withNullability(true))
    val partAttrs = partCols.map(c => output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"partition column $c not in batch")))
    val dataSchema = StructType(output.filterNot(partAttrs.contains)
      .map(a => StructField(a.name, a.dataType)))
    val types = (partTypes.fields ++ df.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    statCols.foreach { c =>
      val dt = types.getOrElse(c, throw new IllegalArgumentException(
        s"stat column $c does not exist in $root " +
          s"(have ${types.keys.mkString(", ")})"))
      require(StatTypes.contains(dt) || dt == StringType,
        s"stat column $c has unsupported type $dt — manifest ranges " +
          "cover integral, date/timestamp, and string columns")
    }
    val tracker = new EntryStats(dataSchema, statCols,
      new graft.util.SerializableHadoopConf(conf))
    val cs = classic(spark)
    SQLExecution.withNewExecutionId(qe, Some(s"write $prefix")) {
      FileFormatWriter.write(cs, plan, new ParquetFileFormat,
        new EntryCommitProtocol(qdir, prefix),
        FileFormatWriter.OutputSpec(qdir, Map.empty, output),
        cs.sessionState.newHadoopConf(), partAttrs, None, Seq(tracker),
        Map.empty)
    }
    val (empty, written) = tracker.files.partition(_.rows == 0L)
    empty.foreach(f => fs.delete(new Path(f.path), false))
    written.map { f =>
      val name = new Path(f.path).toUri.getPath.stripPrefix(qroot)
        .stripPrefix("/")
      val seg = partSegments(name).toMap
      // a partition column's range is its path value; data columns
      // come from the task
      val ranges = statCols.flatMap { c =>
        f.ranges.get(c).orElse(seg.get(c).flatMap(raw =>
          Option(partValue(spark, types(c), raw)).map {
            case s: UTF8String => Right((s.toString, s.toString))
            case v => val n = asLong(v); Left((n, n))
          }))
          .map(c -> _)
      }
      val sstats = ranges.collect { case (c, Right((mn, mx))) =>
        ColRangeS(c, mn, mx) }
      ManifestEntry(name, f.rows, f.bytes,
        ranges.collect { case (c, Left((mn, mx))) => ColRange(c, mn, mx) },
        if (sstats.isEmpty) None else Some(sstats))
    }.sortBy(_.name)
  }

  /** The non-string stat types, whose range is kept as a long:
    * integrals as-is, dates as epoch days, timestamps as epoch micros.
    */
  private val StatTypes: Set[DataType] = Set(ByteType, ShortType,
    IntegerType, LongType, DateType, TimestampType)

  private def asLong(v: Any): Long = v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
  }

  /** One written file: its rows, bytes and per-stat-column range
    * (`Left` long, `Right` string); an all-null column has none.
    */
  private final case class FileStat(path: String, rows: Long, bytes: Long,
      ranges: Map[String, Either[(Long, Long), (String, String)]])

  private final case class FileStats(files: Seq[FileStat])
      extends WriteTaskStats

  /** Collects every written file's [[FileStat]] on the driver. */
  private final class EntryStats(dataSchema: StructType,
      statCols: Seq[String], conf: graft.util.SerializableHadoopConf)
      extends WriteJobStatsTracker {
    @transient var files: Seq[FileStat] = Nil

    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskStats(statCols.filter(dataSchema.fieldNames.contains)
        .map(c => (c, dataSchema.fieldIndex(c), dataSchema(c).dataType)),
        conf)

    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      files = stats.flatMap { case FileStats(fs) => fs }
  }

  /** Per-task counts and ranges of the files the task writes. */
  private final class TaskStats(cols: Seq[(String, Int, DataType)],
      conf: graft.util.SerializableHadoopConf)
      extends WriteTaskStatsTracker {
    private final class Acc {
      var rows = 0L
      val lo = new Array[Long](cols.size)
      val hi = new Array[Long](cols.size)
      val slo = new Array[UTF8String](cols.size)
      val shi = new Array[UTF8String](cols.size)
      val seen = new Array[Boolean](cols.size)
    }
    private val open = mutable.HashMap.empty[String, Acc]
    private val done = mutable.ArrayBuffer.empty[FileStat]

    override def newPartition(values: InternalRow): Unit = ()
    override def newFile(path: String): Unit = open(path) = new Acc

    override def newRow(path: String, row: InternalRow): Unit = {
      val a = open(path)
      a.rows += 1
      var j = 0
      while (j < cols.size) {
        val (_, i, dt) = cols(j)
        if (!row.isNullAt(i)) dt match {
          case StringType =>
            val s = row.getUTF8String(i)
            if (!a.seen(j) || s.compareTo(a.slo(j)) < 0) a.slo(j) = s.clone()
            if (!a.seen(j) || s.compareTo(a.shi(j)) > 0) a.shi(j) = s.clone()
            a.seen(j) = true
          case _ =>
            val v = dt match {
              case ByteType => row.getByte(i).toLong
              case ShortType => row.getShort(i).toLong
              case IntegerType | DateType => row.getInt(i).toLong
              case _ => row.getLong(i)
            }
            if (!a.seen(j) || v < a.lo(j)) a.lo(j) = v
            if (!a.seen(j) || v > a.hi(j)) a.hi(j) = v
            a.seen(j) = true
        }
        j += 1
      }
    }

    override def closeFile(path: String): Unit = open.remove(path).foreach {
      a =>
        val p = new Path(path)
        val ranges = cols.indices.filter(a.seen).map { j =>
          cols(j)._1 -> (cols(j)._3 match {
            case StringType => Right((a.slo(j).toString, a.shi(j).toString))
            case _ => Left((a.lo(j), a.hi(j)))
          })
        }.toMap
        done += FileStat(path, a.rows,
          p.getFileSystem(conf.value).getFileStatus(p).getLen, ranges)
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      FileStats(done.toSeq)
  }

  /** Tasks write their files straight into the table under final
    * names; committing is a no-op (the manifest commit is what makes
    * them visible), and an aborted task deletes what it wrote.
    */
  private final class EntryCommitProtocol(root: String, prefix: String)
      extends FileCommitProtocol with Serializable {
    @transient private var written: List[String] = Nil
    private var n = 0

    override def setupJob(job: JobContext): Unit = ()
    override def commitJob(job: JobContext,
        msgs: Seq[TaskCommitMessage]): Unit = ()
    override def abortJob(job: JobContext): Unit = ()
    override def setupTask(ctx: TaskAttemptContext): Unit = {
      written = Nil
      n = 0
    }

    override def newTaskTempFile(ctx: TaskAttemptContext,
        dir: Option[String], spec: FileNameSpec): String = {
      val id = ctx.getTaskAttemptID
      val name = s"$prefix-${id.getTaskID.getId}-${id.getId}-$n.parquet"
      n += 1
      val p = dir.fold(s"$root/$name")(d => s"$root/$d/$name")
      written ::= p
      p
    }

    override def newTaskTempFile(ctx: TaskAttemptContext,
        dir: Option[String], ext: String): String =
      newTaskTempFile(ctx, dir, FileNameSpec("", ext))

    override def newTaskTempFileAbsPath(ctx: TaskAttemptContext,
        absoluteDir: String, spec: FileNameSpec): String =
      throw new UnsupportedOperationException(
        "manifest tables have no custom partition locations")

    override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage =
      new TaskCommitMessage(written.reverse)

    override def abortTask(ctx: TaskAttemptContext): Unit =
      written.foreach { p =>
        val path = new Path(p)
        try path.getFileSystem(ctx.getConfiguration).delete(path, false)
        catch { case _: java.io.IOException => () }
      }
  }
}
