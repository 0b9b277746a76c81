package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders + cross-engine-deterministic helpers shared by the
  * operator library.
  *
  * Everything here must stay ANSI-safe (Spark 4 defaults
  * `spark.sql.ansi.enabled=true`): no int64 overflow, no
  * out-of-bounds array indexing, no bad casts.
  */
object T {
  /** Load one driver-provided parquet table from an sf directory.
    *
    * The `events` table carries a parquet TIMESTAMP(NANOS) column,
    * which Spark refuses to read natively; sessions must set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (Verify/Bench/tests
    * do), and we convert the long nanos to a `timestamp_ntz` here so
    * the wall-clock value matches DuckDB's naive read of the same file
    * (session TZ is pinned to UTC).
    */
  /** Memoized per (session, dir, table): the returned DataFrame is an
    * immutable lazy plan, so sharing it across queries is safe and
    * skips re-listing files + re-reading parquet footers on every
    * query build (measurable across a 100+-query run). No data is
    * cached — only the analyzed relation.
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo.computeIfAbsent((spark, sfDir, name),
      _ => normalizeEventTime(spark.read.parquet(s"$sfDir/$name.parquet")))

  /** Normalize an events-shaped frame's `ts` column to ONE canonical
    * type regardless of how the parquet writer encoded it. Three
    * physical encodings exist in the wild (and the driver's testdata
    * has shipped two of them across regenerations):
    *
    *  - parquet TIMESTAMP(NANOS) read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` → `LongType` nanos
    *  - parquet timestamp[us] adjusted-to-UTC → `TimestampType`
    *  - parquet timestamp[us] naive → `TimestampNTZType`
    *
    * With the session TZ pinned to UTC the three carry identical
    * wall-clock values, so converting between them is lossless.
    * `ntz=true` (the batch default) yields `timestamp_ntz` to match
    * DuckDB's naive read of the same file; `ntz=false` yields plain
    * `timestamp`, which is what `withWatermark` requires — every
    * streaming reader must use that form or fail analysis with
    * EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.
    *
    * Works on batch and streaming frames alike (pure column rewrite).
    * Frames without a `ts` column pass through untouched.
    */
  def normalizeEventTime(df: DataFrame, ntz: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val target = if (ntz) "timestamp_ntz" else "timestamp"
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(target))
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn("ts", col("ts").cast(target))
      case _ => df
    }
  }
}

object H {
  /** 60-bit deterministic hash of a string, identical in Spark and
    * DuckDB: first 15 hex chars of md5, parsed base-16.
    * DuckDB equivalent: `('0x' || substr(md5(s), 1, 15))::BIGINT`.
    * 15 hex chars = 60 bits, always fits signed int64 (ANSI-safe).
    * Computed by the codegen'd [[graft.functions.Md5Prefix60]] —
    * digest bytes straight to long, no hex-string round trip
    * (bit-equality with the conv/substring form is spec-asserted).
    */
  def hash60(c: Column): Column =
    graft.functions.VectorFunctions.md5_prefix60(c.cast("string"))

  /** SQL text of hash60 for DuckDB oracles. */
  def duckHash60(sqlExpr: String): String =
    s"(('0x' || substr(md5($sqlExpr), 1, 15))::BIGINT)"

  /** Same hash reduced below 2^30 so that `a*h + b` stays well inside
    * int64 for multipliers up to ~2^31 (overflow-free in ANSI mode and
    * in DuckDB, which also errors on int64 overflow).
    */
  def hash30(c: Column): Column = hash60(c) % lit(1073741824L)

  def duckHash30(sqlExpr: String): String =
    s"(${duckHash60(sqlExpr)} % 1073741824)"
}

/** Seeded subsampling for exact ground-truth baselines (round-10
  * verdict #2). The exact all-pairs oracles (`ns_embed_neardup`, the
  * simhash recall gate) are O(n²) by definition — correct as recall
  * regression tests, a scale-killer as bench entries. Past the base
  * fixture size they compute truth over a DETERMINISTIC hash-sampled
  * id subset instead: the left (smaller-id) side keeps ids with
  * `hash30(tag || id) % stride == 0`, where `stride` is the smallest
  * power of two holding the sampled side at or under `cap` rows —
  * resolved from a plan-time count exactly like the LSH planes
  * ladders, with a bit-identical DuckDB twin, so both engines always
  * sample the same rows. Work becomes O(cap · n) (linear), the base
  * fixtures resolve to stride 1 (bit-identical to the unsampled
  * history), and the measured recall stays an unbiased estimate
  * because the sample is independent of the vectors' geometry (an
  * md5 of the id, not of the data).
  */
object TruthSample {
  def strideFor(n: Long, cap: Long): Long =
    (0 to 20).map(1L << _).find(s => n <= cap * s).getOrElse(1L << 20)

  /** SQL twin of [[strideFor]] over a count expression. */
  def strideLadderSql(cnt: String, cap: Long): String =
    (0 to 19).map(i => s"WHEN $cnt <= ${cap << i} THEN ${1L << i}")
      .mkString("(CASE ", " ", s" ELSE ${1L << 20} END)")

  /** Spark-side membership predicate for id column `id` (any integer
    * type) under `stride`; [[duckKeepSql]] is its SQL twin.
    */
  def keep(id: Column, tag: String, stride: Long): Column =
    pmod(H.hash30(concat(lit(tag), id.cast("string"))), lit(stride)) === 0

  def duckKeepSql(idExpr: String, tag: String, strideExpr: String): String =
    s"${H.duckHash30(s"'$tag' || $idExpr::VARCHAR")} % $strideExpr = 0"
}

/** Tokenization contract shared by the text operators and their
  * oracles.
  *
  * Matches the *composed* semantics of the reference pipeline
  * (/root/reference/frame_tasks/basic_tasks.py:54-79): `\b`-split +
  * strip `\A\W+|\W+\Z` + keep length > 1 collapses to "lowercased
  * `\w`-runs of length >= 2". Both Java regex and DuckDB's RE2 treat
  * `\W` as ASCII-non-word by default, so the split is engine-portable.
  */
object Tok {
  /** tokens(text): lowercased word tokens, length >= 2, as one row per
    * token. Input column must be named; output column `token`.
    */
  def tokens(df: DataFrame, textCol: String): DataFrame =
    df.select(
        col("*"),
        explode(split(lower(col(textCol)), "\\W+")).as("token"))
      .filter(length(col("token")) > 1)

  /** Raw whitespace token array (the documents table is space-joined
    * words, so this equals the vocabulary tokens).
    */
  def tokenArray(textCol: String): Column = split(col(textCol), " ")

  /** DuckDB fragment producing the same token rows from `documents`:
    * use inside `FROM documents, unnest(...) AS t(token)`.
    */
  val duckSplit: String =
    "unnest(string_split_regex(lower(text), '\\W+'))"
}
