package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
  PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn,
  SupportsDelete, SupportsMetadataColumns, SupportsRead,
  SupportsRowLevelOperations, SupportsWrite, Table, TableCapability,
  TableProvider}
import org.apache.spark.sql.connector.write.{DataWriter,
  LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperationBuilder,
  RowLevelOperationInfo, SupportsDynamicOverwrite, SupportsTruncate,
  V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, EqualNullSafe,
  EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation,
  IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains,
  StringEndsWith, StringStartsWith}
import org.apache.spark.sql.connector.expressions.{GeneralScalarExpression,
  Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns,
  SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Manifest
import graft.util.SerializableHadoopConf

/** DataSource V2 STREAMING source over a manifest-managed table — the
  * consumption half of the exactly-once loop whose ingestion half is
  * [[graft.streaming.ManifestSink]]:
  *
  * {{{
  * spark.readStream.format("graft.sources.ManifestSource")
  *   .option("path", tableDir).load()
  * }}}
  *
  * OFFSETS ARE MANIFEST VERSIONS. Each micro-batch covers a version
  * window `(from, to]` and its rows are exactly the files ADDED in
  * that window (the [[Manifest.readChanges]] diff), minus `to`'s
  * deletion-vector marks on those files — so a committed append is
  * consumed exactly once: Structured Streaming checkpoints the version
  * offset, a restart resumes from it, and replays re-plan the
  * identical file list because snapshots are immutable. Offset 0 means
  * "before v1", so a fresh stream first consumes the whole table, then
  * follows the commit log — the Delta-source contract, over this
  * layer's own manifest.
  *
  * Scale posture: planning a batch is ONE metadata read (two snapshot
  * lists diffed by name) — never a directory walk; each added file
  * becomes one input partition read executor-side through the
  * DRIVER'S broadcast Hadoop conf (credentials/fs overrides intact).
  * The incremental contract is append-only windows between
  * maintenance, exactly as documented on [[Manifest.readChanges]]:
  * a rewriting commit restates its surviving rows (use
  * [[Manifest.readCdc]] for the restatement-free feed).
  */
class ManifestSource extends TableProvider {

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "ManifestSource requires option 'path'")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val dir = pathOf(options)
    // an as-of read carries the schema AS OF that version — a
    // pre-evolution snapshot reads with its own narrower columns
    val asOf = Option(options.get("versionAsOf")).map(_.toInt)
      .orElse(Option(options.get("timestampAsOf"))
        .flatMap(ts => graft.ops.Manifest.versionAt(spark, dir, ts.toLong)))
    val base = asOf.flatMap(graft.ops.Manifest.tableSchema(spark, dir, _))
      .getOrElse(ManifestSource.tableSchema(spark, dir))
    if (options.getBoolean("changeFeed", false))
      StructType(base.fields.toSeq :+
        StructField("_change_type", StringType) :+
        StructField("_commit_version", LongType))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ManifestSource.MfTable(properties.get("path"), schema,
      Option(properties.get("maxVersionsPerBatch")).map(_.toInt),
      Option(properties.get("changeFeed")).exists(_.toBoolean),
      Option(properties.get("startingVersion")).map(_.toInt),
      Option(properties.get("versionAsOf")).map(_.toInt),
      Option(properties.get("timestampAsOf")).map(_.toLong))
}

object ManifestSource {

  /** The table's read schema: the recorded per-version schema when the
    * manifest tracks one, else the first data file's. A
    * Hive-partitioned tree needs the recorded schema (it alone knows
    * the partition columns' types); flat tables can fall back to a
    * file footer.
    */
  def tableSchema(spark: SparkSession, dir: String): StructType = {
    val entries = Manifest.read(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no manifest — ManifestSource streams manifest-" +
          "managed tables; write one with Manifest.create"))
    val recorded = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
    if (entries.exists(_.name.contains("=")))
      recorded.getOrElse(throw new IllegalArgumentException(
        s"$dir is Hive-partitioned and records no schema — re-commit " +
          "with Manifest.create so partition column types are known"))
    else recorded
      .orElse(entries.headOption.map(e =>
        spark.read.parquet(s"$dir/${e.name}").schema))
      .getOrElse(throw new IllegalStateException(
        s"$dir is empty and records no schema"))
  }

  private[sources] class MfTable(dir: String, schema0: StructType,
      maxVersions: Option[Int], changeFeed: Boolean,
      startingVersion: Option[Int], versionAsOf: Option[Int],
      timestampAsOf: Option[Long])
      extends Table with SupportsRead with SupportsWrite
      with SupportsDelete with SupportsRowLevelOperations
      with SupportsMetadataColumns {
    override def name(): String = s"manifest_table($dir)"

    /** `_file` — the metadata column group-based row-level operations
      * key on (and a user-visible provenance column, Delta/Iceberg
      * style): the absolute path of the data file a row came from.
      */
    override def metadataColumns(): Array[MetadataColumn] = Array(
      new MetadataColumn {
        override def name(): String = RowLevelOps.FileColumn
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = true
        override def comment(): String =
          "absolute path of the data file this row belongs to"
      })

    /** SQL `UPDATE` / `MERGE INTO` / copy-on-write `DELETE` — the
      * group-based row-level operation ([[RowLevelOps]]): Spark's own
      * rewrite rules plan the statement, runtime group filtering
      * narrows it to files that contain a matching row, and the commit
      * replaces exactly those. Rejected on time-travel reads (a
      * pinned old snapshot must not mutate the table underneath).
      */
    override def newRowLevelOperationBuilder(
        info: RowLevelOperationInfo): RowLevelOperationBuilder = {
      require(versionAsOf.isEmpty && timestampAsOf.isEmpty,
        s"cannot run a row-level operation against a time-travel read " +
          s"of $dir")
      RowLevelOps.operationBuilder(dir, info)
    }

    /** SQL `DELETE FROM ... WHERE ...` — MERGE-ON-READ: matching rows
      * are marked in the snapshot's deletion vector
      * ([[graft.ops.Layout.deleteMergeOnRead]]), O(matches) metadata
      * with no file rewritten — the write-cheap delete a 100 TB table
      * needs. Accepted only when every conjunct translates to a
      * Column predicate ([[ManifestSource.filterToColumn]]); Spark
      * falls back to an analysis error otherwise, never to a silent
      * partial delete.
      */
    override def canDeleteWhere(filters: Array[Filter]): Boolean =
      filters.forall(ManifestSource.filterToColumn(_).isDefined)

    override def deleteWhere(filters: Array[Filter]): Unit = {
      val spark = SparkSession.active
      val pred = filters.flatMap(ManifestSource.filterToColumn)
        .reduceOption(_ && _)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      graft.ops.Layout.deleteMergeOnRead(spark, dir, pred)
    }

    // Spark hands modern DELETEs over as V2 Predicates, which carry
    // arithmetic/function shapes the V1 Filter API cannot (e.g.
    // `doc_id % 7 = 0`) — translate the general expression tree
    override def canDeleteWhere(
        predicates: Array[V2Predicate]): Boolean =
      predicates.forall(ManifestSource.v2ExprToColumn(_).isDefined)

    override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
      val spark = SparkSession.active
      val pred = predicates.toSeq.flatMap(ManifestSource.v2ExprToColumn)
        .reduceOption(_ && _)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      graft.ops.Layout.deleteMergeOnRead(spark, dir, pred)
    }
    /** SQL `TRUNCATE TABLE` — an EMPTY overwrite snapshot: O(1)
      * metadata instead of the default delete-everything path's
      * O(rows) deletion marks; prior files stay readable via time
      * travel until vacuum.
      */
    override def truncateTable(): Boolean = {
      val spark = SparkSession.active
      graft.ops.Layout.overwriteInPlace(spark, dir,
        Manifest.readTable(spark, dir)
          .filter(org.apache.spark.sql.functions.lit(false)))
      true
    }

    override def schema(): StructType = schema0
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_READ,
        // append/truncate run through the V1 bridge (one DataFrame
        // into the layout verbs); BATCH_WRITE is also declared for
        // dynamic overwrite, which has no V1 bridge and runs as a
        // true V2 staged write — physical planning picks per-Write
        // (V1Write instance vs toBatch)
        TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_DYNAMIC,
        TableCapability.STREAMING_WRITE)

    /** SQL `INSERT INTO` / `INSERT OVERWRITE` through the catalog.
      * The V1 write bridge hands over the batch as ONE DataFrame whose
      * write runs as a normal distributed job inside the layout verbs
      * — [[graft.ops.Layout.appendInPlace]] stages delta files and
      * commits O(batch); truncate-mode routes to
      * [[graft.ops.Layout.overwriteInPlace]], whose new snapshot
      * supersedes every prior file without reading any. Both inherit
      * the manifest's first-writer-wins commit protocol, so concurrent
      * SQL inserts serialize exactly like programmatic ones.
      */
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite {
        private var overwrite = false
        private var dynamic = false
        override def truncate(): WriteBuilder = { overwrite = true; this }
        override def overwriteDynamicPartitions(): WriteBuilder = {
          dynamic = true; this
        }
        override def build(): Write =
          // dynamic partition overwrite has NO V1 bridge in Spark —
          // it runs as a true V2 batch write: tasks stage dot-files,
          // the driver commit supersedes exactly the touched
          // partition directories
          if (dynamic) new Write {
            override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
              new MfDynamicOverwrite(dir, info)
          }
          else new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.Dataset[
                  org.apache.spark.sql.Row], ignored: Boolean): Unit = {
                val s = data.sparkSession
                // record ranges for every integral/string column of
                // the batch (the Delta/Iceberg default of stats-on-
                // write) — they are what the scan's file pruning and
                // the keyed maintenance verbs plan with; cost is one
                // pass over the freshly staged files only
                val statCols = data.schema.fields.collect {
                  case f if f.dataType == IntegerType ||
                      f.dataType == LongType || f.dataType == ShortType ||
                      f.dataType == ByteType || f.dataType == DateType ||
                      f.dataType == TimestampType ||
                      f.dataType == StringType => f.name
                }.toSeq
                if (overwrite) graft.ops.Layout.overwriteInPlace(
                  s, dir, data.toDF(), statCols)
                else graft.ops.Layout.appendInPlace(
                  s, dir, data.toDF(), statCols)
              }
            }
          /** `writeStream.toTable` — executor tasks stage dot-files
            * via the row-level parquet writer; each epoch commits as
            * ONE append snapshot with the epoch id as `txn`, so a
            * replayed epoch after a restart no-ops (exactly-once, the
            * same guard as ManifestSink's foreachBatch path).
            */
          override def toStreaming: StreamingWrite =
            new MfStreamingWrite(dir, info)
        }
      }

    /** The batch scan prunes twice before any file opens, both from
      * metadata the driver already holds:
      *  - FILES: pushed filters on stat columns intersect each entry's
      *    recorded min/max ranges — a file provably outside every
      *    conjunct is skipped ([[Manifest.prunedPaths]] semantics,
      *    pinned to the scanned version). All filters are also kept
      *    post-scan (Spark re-evaluates them), so pruning is pure
      *    skipping, never a correctness dependency.
      *  - COLUMNS: the required schema narrows the parquet projection
      *    per file (intersected with the file's own footer schema, so
      *    pre-evolution files project only what they have) — a
      *    2-column SELECT over a 30-column table decodes 2 columns.
      */
    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with SupportsPushDownFilters
          with SupportsPushDownRequiredColumns {
        private var pushed: Array[Filter] = Array.empty
        private var required: StructType = schema0

        override def pushFilters(filters: Array[Filter]): Array[Filter] = {
          pushed = filters.filter(usableForPruning)
          filters // every filter is re-evaluated post-scan
        }
        override def pushedFilters(): Array[Filter] = pushed

        override def pruneColumns(requiredSchema: StructType): Unit =
          required = requiredSchema

        override def build(): Scan = new Scan
            with SupportsReportStatistics {
          override def readSchema(): StructType = required
          override def toMicroBatchStream(
              checkpointLocation: String): MicroBatchStream =
            new MfStream(dir, schema0, maxVersions, changeFeed,
              startingVersion)

          /** Manifest-exact size/row totals of the files SURVIVING
            * pushdown pruning — what Spark's join planning sizes the
            * relation with (a dimension read that prunes to one
            * partition reports that partition's bytes, so it
            * broadcasts even when the whole table would not). Rows
            * are physical (deletion-vector marks not subtracted — an
            * upper bound, safe for planning); cost is one snapshot
            * read the driver already holds cached.
            */
          override def estimateStatistics()
              : org.apache.spark.sql.connector.read.Statistics = {
            val spark = SparkSession.active
            val entries = versionAsOf
              .orElse(timestampAsOf.flatMap(ts =>
                Manifest.versionAt(spark, dir, ts)))
              .orElse(Manifest.currentVersion(spark, dir))
              .flatMap(v => Manifest.readVersion(spark, dir, v))
              .getOrElse(Seq.empty)
              .filter(entrySurvives(_, pushed,
                ManifestSource.renameMap(spark, dir)))
            val bytes = entries.map(_.bytes).sum
            val rows = entries.map(_.rows).sum
            new org.apache.spark.sql.connector.read.Statistics {
              override def sizeInBytes(): java.util.OptionalLong =
                java.util.OptionalLong.of(bytes)
              override def numRows(): java.util.OptionalLong =
                java.util.OptionalLong.of(rows)
            }
          }
          /** Batch form of the connector — snapshot read with time
            * travel via `versionAsOf` / `timestampAsOf` (epoch ms).
            * Uses the same per-file reader as streaming (DV skip,
            * partition-value injection, evolution backfill); prefer
            * [[graft.ops.Manifest.readTable]] for bulk scans — this
            * surface exists so ONE format string covers batch and
            * stream, Delta-style.
            */
          override def toBatch: Batch = new Batch {
            private val spark = SparkSession.active
            private val version: Int = versionAsOf
              .orElse(timestampAsOf.flatMap(ts =>
                Manifest.versionAt(spark, dir, ts)))
              .orElse(Manifest.currentVersion(spark, dir))
              .getOrElse(throw new IllegalArgumentException(
                s"$dir has no readable version for the asOf options"))

            override def planInputPartitions(): Array[InputPartition] = {
              val entries = Manifest.readVersion(spark, dir, version)
                .getOrElse(throw new IllegalArgumentException(
                  s"no manifest version $version under $dir"))
                .filter(entrySurvives(_, pushed,
                  ManifestSource.renameMap(spark, dir, Some(version))))
              // deletion marks do NOT transit the driver: each reader
              // loads its own file's keyed subdirectory (dvSkip)
              val dvRoot = ManifestSource.dvRootOf(spark, dir, version)
              val conf = new SerializableHadoopConf(
                spark.sparkContext.hadoopConfiguration)
              entries.map { en =>
                val partVals = en.name.split('/').dropRight(1)
                  .filter(_.contains("="))
                  .map { seg =>
                    val Array(k, v) = seg.split("=", 2)
                    k -> v
                  }.toMap
                // `_file` rides the constant-injection channel: it is
                // only materialized when the required schema asks for
                // the metadata column (runtime group filtering,
                // provenance selects)
                MfPartition(s"$dir/${en.name}", required.json, dvRoot,
                  partVals + (RowLevelOps.FileColumn ->
                    s"$dir/${en.name}"), conf): InputPartition
              }.toArray
            }
            override def createReaderFactory(): PartitionReaderFactory =
              new MfReaderFactory
          }
        }
      }
  }

  /** Translate a connector V2 expression tree (the form SQL DELETE
    * conditions arrive in) into a Column. Covers references, literals,
    * boolean connectives, comparisons, arithmetic, and the common
    * string predicates; `None` on anything else — the caller rejects
    * the whole operation rather than run a weaker predicate.
    */
  private[sources] def v2ExprToColumn(
      e: org.apache.spark.sql.connector.expressions.Expression):
      Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    e match {
      case n: NamedReference if n.fieldNames.length == 1 =>
        Some(col(n.fieldNames.head))
      case l: V2Literal[_] =>
        val v = l.value match {
          case u: UTF8String => u.toString
          case d: org.apache.spark.sql.types.Decimal => d.toBigDecimal
          case other => other
        }
        Some(lit(v))
      case g: GeneralScalarExpression =>
        val kids = g.children.toSeq.map(v2ExprToColumn)
        if (kids.exists(_.isEmpty)) None
        else {
          val c = kids.flatten
          (g.name, c) match {
            case ("AND", Seq(a, b)) => Some(a && b)
            case ("OR", Seq(a, b)) => Some(a || b)
            case ("NOT", Seq(a)) => Some(!a)
            case ("=", Seq(a, b)) => Some(a === b)
            case ("<=>", Seq(a, b)) => Some(a <=> b)
            case ("<>", Seq(a, b)) => Some(a =!= b)
            case (">", Seq(a, b)) => Some(a > b)
            case (">=", Seq(a, b)) => Some(a >= b)
            case ("<", Seq(a, b)) => Some(a < b)
            case ("<=", Seq(a, b)) => Some(a <= b)
            case ("+", Seq(a, b)) => Some(a + b)
            case ("-", Seq(a, b)) => Some(a - b)
            case ("-", Seq(a)) => Some(-a)
            case ("*", Seq(a, b)) => Some(a * b)
            case ("/", Seq(a, b)) => Some(a / b)
            case ("%", Seq(a, b)) => Some(a % b)
            case ("ABS", Seq(a)) => Some(org.apache.spark.sql.functions.abs(a))
            case ("IS_NULL", Seq(a)) => Some(a.isNull)
            case ("IS_NOT_NULL", Seq(a)) => Some(a.isNotNull)
            case ("STARTS_WITH", Seq(a, b)) => Some(a.startsWith(b))
            case ("ENDS_WITH", Seq(a, b)) => Some(a.endsWith(b))
            case ("CONTAINS", Seq(a, b)) => Some(a.contains(b))
            case ("IN", a +: rest) if rest.nonEmpty =>
              Some(rest.map(a === _).reduce(_ || _))
            case ("ALWAYS_TRUE", _) => Some(lit(true))
            case ("ALWAYS_FALSE", _) => Some(lit(false))
            case _ => None
          }
        }
      case _ => None
    }
  }

  /** Translate a DSv2 source Filter into a Column predicate — the
    * bridge that lets SQL DELETE's WHERE drive the layout verbs.
    * `None` marks a shape we can't express; the caller must then
    * REJECT the whole operation (never drop a conjunct: a partial
    * predicate would delete more rows than asked).
    */
  private[sources] def filterToColumn(f: Filter):
      Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case And(l, r) => for {
        lc <- filterToColumn(l); rc <- filterToColumn(r)
      } yield lc && rc
      case Or(l, r) => for {
        lc <- filterToColumn(l); rc <- filterToColumn(r)
      } yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** Filters this source can turn into per-file range prunes: simple
    * comparisons and IN on a top-level column. (Translation happens in
    * [[entrySurvives]]; anything else is left to post-scan eval.)
    */
  private def usableForPruning(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In |
         _: StringStartsWith => true
    case _ => false
  }

  /** Filter values normalized to the manifest's long stat domain —
    * integrals as-is, dates as epoch DAYS, timestamps as epoch MICROS
    * (the exact encodings [[graft.ops.Manifest.scanStats]] records),
    * so date/timestamp predicates prune files like any integral.
    */
  private def asLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case d: java.sql.Date => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case _ => None
  }

  /** Can `entry` contain rows matching every pushed filter? Mirrors
    * [[Manifest.prunedPaths]]: a file with no recorded stats for a
    * column is KEPT — pruning only ever skips provably-empty files.
    * `renames` maps LOGICAL filter names to the PHYSICAL names stats
    * are recorded under, so pruning survives a column rename.
    */
  private[sources] def entrySurvives(entry: graft.ops.ManifestEntry,
      filters: Array[Filter],
      renames: Map[String, String] = Map.empty): Boolean = {
    // partition-directory values from the entry's own path: equality
    // and IN on a partition column prune without stats at all
    val partVals: Map[String, String] = entry.name.split('/')
      .dropRight(1).filter(_.contains("="))
      .map { seg => val Array(k, v) = seg.split("=", 2); k -> v }.toMap
    filters.forall { f =>
    def num(col0: String)(keep: (Long, Long) => Boolean): Boolean = {
      val col = renames.getOrElse(col0, col0)
      entry.stats.find(_.col == col).forall(s => keep(s.min, s.max))
    }
    def str(col0: String)(keep: (String, String) => Boolean): Boolean = {
      val col = renames.getOrElse(col0, col0)
      entry.sstats.getOrElse(Nil).find(_.col == col)
        .forall(s => keep(s.min, s.max))
    }
    f match {
      case EqualTo(c, v) if partVals.contains(c) =>
        v != null && partVals(c) == v.toString
      case In(c, vs) if partVals.contains(c) =>
        vs.exists(v => v != null && v.toString == partVals(c))
      case EqualTo(c, v) => asLong(v) match {
        case Some(l) => num(c)((lo, hi) => lo <= l && l <= hi)
        case None => v match {
          case s: String => str(c)((lo, hi) => lo <= s && s <= hi)
          case _ => true
        }
      }
      case GreaterThan(c, v) => asLong(v) match {
        case Some(l) => num(c)((_, hi) => hi > l)
        case None => v match {
          case s: String => str(c)((_, hi) => hi > s)
          case _ => true
        }
      }
      case GreaterThanOrEqual(c, v) => asLong(v) match {
        case Some(l) => num(c)((_, hi) => hi >= l)
        case None => v match {
          case s: String => str(c)((_, hi) => hi >= s)
          case _ => true
        }
      }
      case LessThan(c, v) => asLong(v) match {
        case Some(l) => num(c)((lo, _) => lo < l)
        case None => v match {
          case s: String => str(c)((lo, _) => lo < s)
          case _ => true
        }
      }
      case LessThanOrEqual(c, v) => asLong(v) match {
        case Some(l) => num(c)((lo, _) => lo <= l)
        case None => v match {
          case s: String => str(c)((lo, _) => lo <= s)
          case _ => true
        }
      }
      case In(c, vs) =>
        val longs = vs.flatMap(asLong(_))
        if (longs.length == vs.length && vs.nonEmpty)
          num(c)((lo, hi) => longs.exists(l => lo <= l && l <= hi))
        else if (vs.nonEmpty && vs.forall(_.isInstanceOf[String]))
          str(c)((lo, hi) =>
            vs.exists(v => lo <= v.toString && v.toString <= hi))
        else true
      case StringStartsWith(c, p) if partVals.contains(c) =>
        partVals(c).startsWith(p)
      case StringStartsWith(c, p) =>
        // a p-prefixed string s satisfies s >= p, and s.take(|p|) = p;
        // so a file provably holds none when hi < p, or when even its
        // min truncates past p — never-wrong, only skips proven-empty
        str(c)((lo, hi) => hi >= p && lo.take(p.length) <= p)
      case _ => true
    }
    }
  }

  private[sources] case class VersionOffset(v: Int) extends Offset {
    override def json(): String = s"""{"version":$v}"""
  }

  private[sources] class MfStream(dir: String, schema: StructType,
      maxVersions: Option[Int], changeFeed: Boolean,
      startingVersion: Option[Int])
      extends MicroBatchStream with SupportsTriggerAvailableNow {
    private def spark = SparkSession.active

    // Trigger.AvailableNow contract: pin the version visible when the
    // trigger fires; the run drains up to exactly that snapshot and
    // stops, even if writers keep committing underneath
    @volatile private var pinned: Option[Int] = None

    override def prepareForTriggerAvailableNow(): Unit =
      pinned = Some(Manifest.currentVersion(spark, dir).getOrElse(0))

    override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

    /** Admission control: a stream that resumes far behind the table
      * (or one draining a long history under AvailableNow) caps each
      * micro-batch at `maxVersionsPerBatch` commit windows instead of
      * swallowing the whole backlog in one giant batch — bounded batch
      * memory/latency at any backlog depth, the Delta
      * maxFilesPerTrigger idea keyed by version.
      */
    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val target = pinned
        .getOrElse(Manifest.currentVersion(spark, dir).getOrElse(0))
      val s = start.asInstanceOf[VersionOffset].v
      VersionOffset(maxVersions match {
        case Some(m) => math.min(target, s + m)
        case None => target
      })
    }

    override def reportLatestOffset(): Offset =
      VersionOffset(Manifest.currentVersion(spark, dir).getOrElse(0))

    /** `startingVersion` skips history: a consumer that bulk-read the
      * table at version K with [[graft.ops.Manifest.readTable]]
      * (vectorized) starts the stream at K and receives only later
      * commits — the backfill-then-follow pattern.
      */
    override def initialOffset(): Offset =
      VersionOffset(startingVersion.getOrElse(0))

    override def latestOffset(): Offset =
      VersionOffset(Manifest.currentVersion(spark, dir).getOrElse(0))

    override def deserializeOffset(json: String): Offset =
      VersionOffset("\"version\"\\s*:\\s*(\\d+)".r
        .findFirstMatchIn(json)
        .map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(
          s"bad ManifestSource offset: $json")))

    override def planInputPartitions(start: Offset,
        end: Offset): Array[InputPartition] = {
      val s = start.asInstanceOf[VersionOffset].v
      val e = end.asInstanceOf[VersionOffset].v
      if (e <= s) return Array.empty
      if (changeFeed) return planChangeFeed(s, e)
      val before =
        if (s == 0) Set.empty[String]
        else Manifest.readVersion(spark, dir, s).getOrElse(
          throw new IllegalStateException(
            s"manifest version $s of $dir was vacuumed mid-stream"))
          .map(_.name).toSet
      val added = Manifest.readVersion(spark, dir, e).getOrElse(
        throw new IllegalStateException(
          s"manifest version $e of $dir disappeared"))
        .filterNot(en => before.contains(en.name))
      // the end-version deletion marks on the added files (rare for a
      // streaming table, exact for correctness): the partition carries
      // only the DV pointer; each reader loads its own file's keyed
      // positions — no mark transits the driver
      val dvRoot = ManifestSource.dvRootOf(spark, dir, e)
      val conf = new SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      added.map { en =>
        // Hive-partitioned trees: the k=v path segments carry the
        // partition columns — reconstructed per file on the driver,
        // injected as constants by the reader
        val partVals = en.name.split('/').dropRight(1)
          .filter(_.contains("="))
          .map { seg =>
            val Array(k, v) = seg.split("=", 2)
            k -> v
          }.toMap
        MfPartition(s"$dir/${en.name}", schema.json, dvRoot,
          partVals, conf): InputPartition
      }.toArray
    }

    /** STREAMED CHANGE FEED: each version in the window contributes
      * its commit-time change record (`cdc-v{K}` parquet — the rows
      * carry `_change_type` themselves) or, for an append-only
      * commit, its added files with `_change_type` injected as
      * 'insert'; `_commit_version` is injected per file. Pure file
      * reads — no diffing anywhere, which is what makes the feed a
      * sustainable streaming workload.
      */
    private def planChangeFeed(s: Int, e: Int): Array[InputPartition] = {
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val conf = new SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      (s + 1 to e).flatMap { v =>
        val inject = Map("_commit_version" -> v.toString)
        val cdc = new Path(Manifest.cdcDir(dir, v))
        if (fs.exists(cdc)) {
          fs.listStatus(cdc)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(f => MfPartition(f.getPath.toString, schema.json,
              "", inject, conf): InputPartition).toSeq
        } else {
          val prev =
            if (v == 1) Set.empty[String]
            else Manifest.readVersion(spark, dir, v - 1).getOrElse(
              throw new IllegalStateException(
                s"manifest version ${v - 1} of $dir was vacuumed " +
                  "mid-stream")).map(_.name).toSet
          val cur = Manifest.readVersion(spark, dir, v).getOrElse(
            throw new IllegalStateException(
              s"manifest version $v of $dir disappeared"))
          require(prev.subsetOf(cur.map(_.name).toSet) &&
            !fs.exists(new Path(Manifest.dvDir(dir, v))),
            s"version v$v of $dir rewrote files but recorded no " +
              "change set — rebuilt with a pre-recording writer?")
          cur.filterNot(en => prev.contains(en.name)).map { en =>
            val partVals = en.name.split('/').dropRight(1)
              .filter(_.contains("="))
              .map { seg =>
                val Array(k, vv) = seg.split("=", 2)
                k -> vv
              }.toMap
            MfPartition(s"$dir/${en.name}", schema.json, "",
              partVals ++ inject + ("_change_type" -> "insert"),
              conf): InputPartition
          }
        }
      }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new MfReaderFactory

    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }

  /** `dvRoot`: the snapshot's dv-v{K} directory when the version has a
    * live deletion vector, else "". ONLY the pointer ships — the
    * reader loads its own file's positions executor-side
    * ([[dvSkip]]), so planning cost is O(1) FS checks regardless of
    * how many rows the table has marked deleted.
    */
  private[sources] case class MfPartition(file: String, schemaJson: String,
      dvRoot: String, partVals: Map[String, String],
      conf: SerializableHadoopConf) extends InputPartition

  /** Executor-side load of ONE data file's deletion-vector positions
    * from its own key directory, `dv-v{K}/file=<key>/` (the key is the
    * TABLE-ROOT-RELATIVE file name — Manifest.dvFileKey, partition dirs
    * included, Hive-escaped in the directory name): O(own marks) I/O,
    * and no mark ever transits the driver. A missing key directory
    * means the file has no marks.
    */
  private[sources] def dvSkip(mp: MfPartition): Set[Long] = {
    if (mp.dvRoot.isEmpty) return Set.empty
    val conf = mp.conf.value
    // the table root is dvRoot's grandparent; both strings were built
    // from the same `dir` at planning time, so a plain prefix strip
    // recovers the root-relative name the marks are keyed by
    val tableDir = mp.dvRoot.substring(0,
      mp.dvRoot.lastIndexOf(s"/${graft.ops.Manifest.DirName}/"))
    val base = mp.file.stripPrefix(tableDir + "/")
    // the Hive directory name escapes the key the same way Spark's
    // partitioned writer did when the vector landed ('/' -> %2F etc.)
    val keyed = new Path(mp.dvRoot, "file=" + org.apache.spark.sql.catalyst
      .catalog.ExternalCatalogUtils.escapePathName(base))
    val fs = keyed.getFileSystem(conf)
    if (!fs.exists(keyed)) return Set.empty
    val out = scala.collection.mutable.HashSet[Long]()
    fs.listStatus(keyed).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        val r = ParquetReader.builder(new GroupReadSupport(), st.getPath)
          .withConf(conf).build()
        try {
          var g = r.read()
          while (g != null) {
            out += g.getLong(g.getType.getFieldIndex("pos"), 0)
            g = r.read()
          }
        } finally r.close()
      }
    out.toSet
  }

  /** Streaming write into a manifest table (`writeStream.toTable`):
    * rows stage executor-side under PHYSICAL column names via the
    * row-level parquet writer; `commit(epoch)` lands them as one
    * append snapshot through [[graft.ops.Layout.commitStagedAppend]]
    * with the epoch as `txn` — replayed epochs clean up their staged
    * files and no-op, making the sink exactly-once end to end.
    */
  private[sources] class MfStreamingWrite(dir: String,
      info: LogicalWriteInfo) extends StreamingWrite {
    private val spark = SparkSession.active
    private val recorded = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
    // the query's schema re-expressed in the TABLE's physical names
    private val physSchema = StructType(info.schema().fields.map { f =>
      recorded.flatMap(_.fields.find(_.name == f.name))
        .map(tf => f.copy(name = Manifest.physNameOf(tf)))
        .getOrElse(f)
    })
    private val partCols = graft.ops.Layout.partColsFor(spark, dir,
      Manifest.read(spark, dir).getOrElse(Seq.empty))
    private val statCols = physSchema.fields.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType ||
          f.dataType == ShortType || f.dataType == ByteType ||
          f.dataType == DateType || f.dataType == TimestampType ||
          f.dataType == StringType => f.name
    }.toSeq

    override def createStreamingWriterFactory(
        pi: PhysicalWriteInfo): StreamingDataWriterFactory =
      MfStreamWriterFactory(dir, physSchema.json, partCols,
        info.queryId(), new SerializableHadoopConf(
          spark.sparkContext.hadoopConfiguration))

    override def commit(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = {
      val staged = messages.flatMap {
        case RowLevelOps.CowCommitMessage(ns) => ns.map(n => s"$dir/$n")
        case _ => Seq.empty
      }
      // `.option("txnAppId", ...)` on the stream writer gives this
      // stream its OWN replay watermark (Delta's txnAppId pattern).
      // Without one, the watermark defaults to the QUERY's id — stable
      // across restarts of the same checkpoint (true replays still
      // no-op), fresh for a new checkpoint — so a new query writing to
      // a table that already carries txn=N from a previous query does
      // NOT mistake its first N+1 epochs for replays and silently
      // delete their staged files. The global txn is still recorded
      // for a defaulted (single-writer) stream; explicit multi-app
      // streams suppress it so a behind-running app can't lower the
      // shared watermark.
      val explicitApp = Option(info.options.get("txnAppId"))
      graft.ops.Layout.commitStagedAppend(SparkSession.active, dir,
        staged.toSeq,
        if (explicitApp.isDefined) None else Some(epochId), statCols,
        txnApp = Some(explicitApp.getOrElse(info.queryId()) -> epochId))
    }

    override def abort(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(dir).getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      messages.foreach {
        case RowLevelOps.CowCommitMessage(ns) =>
          ns.foreach(n => fs.delete(new Path(s"$dir/$n"), false))
        case _ => ()
      }
    }
  }

  private[sources] case class MfStreamWriterFactory(dir: String,
      schemaJson: String, partCols: Seq[String], queryId: String,
      conf: SerializableHadoopConf) extends StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] =
      new RowLevelOps.CowDataWriter(dir,
        DataType.fromJson(schemaJson).asInstanceOf[StructType], partCols,
        s".stream-$queryId-e$epochId-p$partitionId-t$taskId.parquet",
        conf)
  }

  /** V2 batch write for DYNAMIC partition overwrite
    * (`df.writeTo(t).overwritePartitions()`) — same task-side staging
    * as the streaming write, committed through
    * [[graft.ops.Layout.commitStagedDynamicOverwrite]].
    */
  private[sources] class MfDynamicOverwrite(dir: String,
      info: LogicalWriteInfo)
      extends org.apache.spark.sql.connector.write.BatchWrite {
    private val spark = SparkSession.active
    private val recorded = Manifest.currentVersion(spark, dir)
      .flatMap(Manifest.tableSchema(spark, dir, _))
    private val physSchema = StructType(info.schema().fields.map { f =>
      recorded.flatMap(_.fields.find(_.name == f.name))
        .map(tf => f.copy(name = Manifest.physNameOf(tf)))
        .getOrElse(f)
    })
    private val partCols = graft.ops.Layout.partColsFor(spark, dir,
      Manifest.read(spark, dir).getOrElse(Seq.empty))
    // fail BEFORE tasks stage anything: on an unpartitioned table
    // "replace touched partitions" degrades into a silent full-table
    // overwrite (every file shares dirname ""). The commit path
    // enforces the same guard as a backstop.
    require(partCols.nonEmpty,
      s"$dir is unpartitioned — dynamic partition overwrite needs " +
        "partition directories; use a plain overwrite for whole-table")
    private val statCols = physSchema.fields.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType ||
          f.dataType == ShortType || f.dataType == ByteType ||
          f.dataType == DateType || f.dataType == TimestampType ||
          f.dataType == StringType => f.name
    }.toSeq

    override def createBatchWriterFactory(
        pi: PhysicalWriteInfo):
        org.apache.spark.sql.connector.write.DataWriterFactory =
      RowLevelOps.CowWriterFactory(dir, physSchema.json, partCols,
        info.queryId(), new SerializableHadoopConf(
          spark.sparkContext.hadoopConfiguration))

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val staged = messages.flatMap {
        case RowLevelOps.CowCommitMessage(ns) => ns.map(n => s"$dir/$n")
        case _ => Seq.empty
      }
      graft.ops.Layout.commitStagedDynamicOverwrite(
        SparkSession.active, dir, staged.toSeq, statCols)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(dir).getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      messages.foreach {
        case RowLevelOps.CowCommitMessage(ns) =>
          ns.foreach(n => fs.delete(new Path(s"$dir/$n"), false))
        case _ => ()
      }
    }
  }

  /** LOGICAL→PHYSICAL column-name map of a snapshot's renamed columns
    * — empty for tables that never renamed (the common case, so
    * pruning pays nothing).
    */
  private[sources] def renameMap(spark: SparkSession, dir: String,
      version: Option[Int] = None): Map[String, String] =
    version.orElse(Manifest.currentVersion(spark, dir))
      .flatMap(Manifest.tableSchema(spark, dir, _))
      .map(_.fields.collect {
        case f if Manifest.physNameOf(f) != f.name =>
          f.name -> Manifest.physNameOf(f)
      }.toMap)
      .getOrElse(Map.empty)

  /** The snapshot's DV pointer for partition planning: the dv-v{K}
    * path when it exists, else "" — one FS existence check per scan.
    */
  private[graft] def dvRootOf(spark: SparkSession, dir: String,
      version: Int): String = {
    val p = graft.ops.Manifest.dvDir(dir, version)
    val path = new Path(p)
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(path)) p
    else ""
  }

  /** Executor-side parquet row reader (parquet-hadoop's Group model —
    * Spark's own vectorized reader is not reachable from a connector),
    * matching requested fields to the file's by NAME so files written
    * before an add-column evolution NULL-backfill the new columns,
    * exactly like the batch read path.
    *
    * Throughput note: record-at-a-time Group decoding is slower per
    * byte than the vectorized batch scan. That is the right trade for
    * a STREAMING source, whose batches are O(delta) commit windows —
    * and a consumer that needs to backfill the whole table bulk-reads
    * it once with [[Manifest.readTable]] (vectorized) and starts the
    * stream from the version it snapshotted.
    */
  private[sources] class MfReaderFactory extends PartitionReaderFactory {
    override def createReader(
        p: InputPartition): PartitionReader[InternalRow] = {
      val mp = p.asInstanceOf[MfPartition]
      val schema = DataType.fromJson(mp.schemaJson).asInstanceOf[StructType]
      // this task's own deletion marks, loaded HERE (executor-side)
      // from the vector's per-file keyed subdirectory
      val skip = ManifestSource.dvSkip(mp)
      new PartitionReader[InternalRow] {
        /** Parquet-level column projection: decode only the requested
          * columns, intersected with THIS file's footer schema (a
          * pre-evolution file projects only the fields it has; its
          * missing ones NULL-backfill in [[get]]). An empty
          * intersection (count(*), or partition columns only) keeps
          * one physical column so rows still iterate.
          */
        private val conf = {
          val c = new org.apache.hadoop.conf.Configuration(mp.conf.value)
          val footer = ParquetFileReader.open(
            HadoopInputFile.fromPath(new Path(mp.file), c))
          val fileSchema = try footer.getFileMetaData.getSchema
            finally footer.close()
          import scala.jdk.CollectionConverters._
          // project under PHYSICAL names: a renamed column lives in
          // files under its original name (column mapping)
          val want = schema.fields
            .filterNot(f => mp.partVals.keySet.contains(f.name))
            .map(graft.ops.Manifest.physNameOf).toSet
          val kept = fileSchema.getFields.asScala.filter(f =>
            want.contains(f.getName))
          val proj = if (kept.isEmpty) fileSchema.getFields.asScala.take(1)
            else kept
          c.set(ReadSupport.PARQUET_READ_SCHEMA,
            new MessageType(fileSchema.getName, proj.asJava).toString)
          c
        }
        private val reader: ParquetReader[Group] =
          ParquetReader.builder(new GroupReadSupport(),
            new Path(mp.file)).withConf(conf).build()
        private var cur: Group = _
        private var pos = -1L

        override def next(): Boolean = {
          cur = reader.read()
          pos += 1
          while (cur != null && skip.contains(pos)) {
            cur = reader.read()
            pos += 1
          }
          cur != null
        }

        /** A directory-encoded partition value, cast per schema. */
        private def partValue(raw: String, dt: DataType): Any = dt match {
          case StringType => UTF8String.fromString(raw)
          case LongType => raw.toLong
          case IntegerType => raw.toInt
          case DoubleType => raw.toDouble
          case BooleanType => raw.toBoolean
          case DateType => // Hive dirs encode dates as yyyy-MM-dd
            java.time.LocalDate.parse(raw).toEpochDay.toInt
          case other => throw new UnsupportedOperationException(
            s"ManifestSource: unsupported partition column type $other")
        }

        override def get(): InternalRow = {
          val g = cur
          val fileType = g.getType
          InternalRow.fromSeq(schema.fields.toSeq.map { f =>
            val phys = graft.ops.Manifest.physNameOf(f)
            if (mp.partVals.contains(f.name))
              partValue(mp.partVals(f.name), f.dataType)
            else if (!fileType.containsField(phys)) null
            else {
              val i = fileType.getFieldIndex(phys)
              if (g.getFieldRepetitionCount(i) == 0) null
              else f.dataType match {
                // widened columns upcast from the file's narrower
                // physical encoding (INT→BIGINT, FLOAT→DOUBLE
                // metadata-only evolution)
                case LongType =>
                  if (fileType.getType(i).asPrimitiveType()
                      .getPrimitiveTypeName ==
                      PrimitiveType.PrimitiveTypeName.INT32)
                    g.getInteger(i, 0).toLong
                  else g.getLong(i, 0)
                case IntegerType => g.getInteger(i, 0)
                case DoubleType =>
                  if (fileType.getType(i).asPrimitiveType()
                      .getPrimitiveTypeName ==
                      PrimitiveType.PrimitiveTypeName.FLOAT)
                    g.getFloat(i, 0).toDouble
                  else g.getDouble(i, 0)
                case FloatType => g.getFloat(i, 0)
                case BooleanType => g.getBoolean(i, 0)
                case StringType =>
                  UTF8String.fromString(g.getString(i, 0))
                case BinaryType => g.getBinary(i, 0).getBytes
                case DateType => g.getInteger(i, 0) // epoch days, INT32
                case ShortType => g.getInteger(i, 0).toShort
                case ByteType => g.getInteger(i, 0).toByte
                case TimestampType =>
                  // Spark's internal form is epoch MICROS; files may
                  // carry INT96 (Spark's legacy default writer
                  // encoding), INT64 MICROS, or INT64 MILLIS
                  val pt = fileType.getType(i).asPrimitiveType()
                  pt.getPrimitiveTypeName match {
                    case PrimitiveType.PrimitiveTypeName.INT96 =>
                      val buf = java.nio.ByteBuffer
                        .wrap(g.getInt96(i, 0).getBytes)
                        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                      val nanosOfDay = buf.getLong
                      val julianDay = buf.getInt
                      (julianDay - 2440588L) * 86400000000L +
                        nanosOfDay / 1000L
                    case _ =>
                      val millis = pt.getLogicalTypeAnnotation match {
                        case ts: LogicalTypeAnnotation.
                            TimestampLogicalTypeAnnotation =>
                          ts.getUnit ==
                            LogicalTypeAnnotation.TimeUnit.MILLIS
                        case _ => false
                      }
                      if (millis) g.getLong(i, 0) * 1000L
                      else g.getLong(i, 0)
                  }
                case dt => throw new UnsupportedOperationException(
                  s"ManifestSource: unsupported column type $dt " +
                    s"for ${f.name}")
              }
            }
          })
        }

        override def close(): Unit = reader.close()
      }
    }
  }
}
