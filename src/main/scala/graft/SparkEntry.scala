package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each registry entry is (name, query builder, optional DuckDB oracle
  * SQL over the same parquet tables). Column names and row order are
  * aligned between the Spark plan and the oracle SQL; every
  * double-valued aggregate is rounded identically on both sides so the
  * driver's hash compare is stable.
  */
object SparkEntry {

  private case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def q(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))

  /** Timestamps leave oracle-compared queries as STRINGS: Spark's
    * parquet microsecond timestamps and DuckDB's nanosecond ones carry
    * different datetime64 units into pandas, so a dtype-aware hash can
    * disagree on bit-identical instants. DuckDB twin:
    * strftime(x, '%Y-%m-%d %H:%M:%S.%f').
    */
  private def tsStr(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Per-(corpus, sfDir) temp path for a persisted IVF index, built
    * once and reused across bench reps. The path carries the quantizer
    * config: retraining (a [[Similarity.LloydRounds]] or
    * [[Similarity.TrainSample]] bump) must invalidate previously
    * persisted indexes rather than silently probing a stale quantizer.
    */
  private def ivfIndexDir(tag: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-ivf-$tag-" +
      s"l${Similarity.LloydRounds}t${Similarity.TrainSample}" +
      s"q${Similarity.QuantizerVersion}-" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Per-(tag, sfDir) scratch path for derived data layouts (Z-order
    * clustered copies, shard trees, compacted trees) — built once,
    * reused across reps, same lifecycle as the persisted IVF index.
    */
  private def layoutDir(tag: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-lay-$tag-" +
      s"v${ops.Layout.Version}-" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Derivation version for the zero-job stale-master identities
    * below (round-19 advisor): the `docs:bytes:mtime:<derivation>`
    * corpusId names the derivation by a FIXED string, so a change to
    * [[Dedup.incrBase]]/[[Dedup.incrLoopBase]]'s split logic or the
    * tokenization would keep the identity stable and silently accept
    * a master built over the OLD derivation. Bump this constant
    * whenever those derivations change — it rides in BOTH the
    * corpusId string and the master directory name, so a bump both
    * refuses and relocates stale masters.
    */
  private val IncrDeriv = "d1"

  /** Cheap content fingerprint (total bytes, max mtime) of the
    * documents table — over its PART FILES, because a Spark-written
    * parquet "file" is a directory: the dirent's own length is a
    * constant and its mtime misses in-place rewrites of same-named
    * parts. A driver-written single file fingerprints as itself.
    */
  private def docsFingerprint(dir: String): (Long, Long) = {
    val f = new java.io.File(s"$dir/documents.parquet")
    val parts =
      if (f.isDirectory)
        Option(f.listFiles).map(_.filter(_.isFile).toSeq).getOrElse(Seq(f))
      else Seq(f)
    (parts.map(_.length).sum, (0L +: parts.map(_.lastModified)).max)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Build-once persisted BM25 index over the documents corpus, split
    * into two ingest batches (build even doc_ids, append odd) so the
    * probe exercises the ADDITIVE df/dl merge across snapshot
    * versions, not just a single-build read. Same scratch-dir
    * lifecycle as the LSH index: the tag carries the bucket geometry
    * and the corpus fingerprint; the final manifest version (2 =
    * build + one append) is the build-complete marker, so a crash
    * between the two commits rebuilds instead of half-reading.
    */
  private def bm25IndexDir(s: SparkSession, dir: String): String = {
    val (csum, cmtime) = docsFingerprint(dir)
    val idx = layoutDir("bm25idx-b" + Bm25Index.Buckets +
      "-split2-c" + csum + "m" + cmtime, dir)
    if (!Bm25Index.version(s, idx).contains(2)) {
      deleteRecursively(new java.io.File(idx))
      val docs = T(s, dir, "documents")
      Bm25Index.build(docs.filter(col("doc_id") % 2 === 0), idx)
      Bm25Index.append(docs.filter(col("doc_id") % 2 === 1), idx)
    }
    idx
  }

  /** Register the SQL catalog (graft.sources.GraftCatalog) on the
    * session under the name `gsql`, idempotently, with a warehouse
    * keyed to the sf dir. Spark instantiates the catalog lazily on
    * first reference and caches it per session, so setting the conf
    * before first use is all the registration there is.
    */
  private def sqlCatalogWh(s: SparkSession, dir: String): String = {
    val wh = layoutDir("sqlcat-wh", dir)
    if (s.conf.getOption("spark.sql.catalog.gsql").isEmpty) {
      s.conf.set("spark.sql.catalog.gsql", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gsql.warehouse", wh)
    }
    wh
  }

  /** Build-once fixture: `gsql.nat` CREATEd through SQL and filled by
    * two INSERT INTO ... SELECT batches (v2: n_nationkey < 13, v3:
    * the rest) — current state is all of nation; VERSION AS OF 2 is
    * the first batch. Idempotent via version guards; each step's
    * commit is atomic, so a crash mid-build re-runs cleanly.
    */
  private def sqlCatalogNation(s: SparkSession, dir: String): String = {
    val t = s"${sqlCatalogWh(s, dir)}/nat"
    T(s, dir, "nation").createOrReplaceTempView("graft_nation_src")
    if (ops.Manifest.currentVersion(s, t).isEmpty)
      s.sql(s"CREATE TABLE gsql.nat (${T(s, dir, "nation").schema.toDDL})")
    if (ops.Manifest.currentVersion(s, t).contains(1))
      s.sql("""INSERT INTO gsql.nat
              |SELECT * FROM graft_nation_src
              |WHERE n_nationkey < 13""".stripMargin)
    if (ops.Manifest.currentVersion(s, t).contains(2))
      s.sql("""INSERT INTO gsql.nat
              |SELECT * FROM graft_nation_src
              |WHERE n_nationkey >= 13""".stripMargin)
    t
  }

  /** Build-once fixture: `gsql.docsdel` — documents at v2, then a SQL
    * merge-on-read DELETE (v3: every doc_id divisible by 7 marked in
    * the deletion vector, no file rewritten).
    */
  private def sqlCatalogDocsDel(s: SparkSession, dir: String): String = {
    val t = s"${sqlCatalogWh(s, dir)}/docsdel"
    if (ops.Manifest.currentVersion(s, t).isEmpty) {
      val src = T(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      src.createOrReplaceTempView("graft_docs_src")
      s.sql(s"CREATE TABLE gsql.docsdel (${src.schema.toDDL})")
    }
    if (ops.Manifest.currentVersion(s, t).contains(1)) {
      T(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .createOrReplaceTempView("graft_docs_src")
      s.sql("INSERT INTO gsql.docsdel SELECT * FROM graft_docs_src")
    }
    if (ops.Manifest.currentVersion(s, t).contains(2))
      s.sql("DELETE FROM gsql.docsdel WHERE doc_id % 7 = 0")
    t
  }

  /** Build-once fixture: `gsql.docspart` — a PARTITIONED BY (source)
    * catalog table filled from documents; the first INSERT lands
    * Hive-partitioned directories from the schema's partition
    * metadata alone.
    */
  private def sqlCatalogDocsPart(s: SparkSession, dir: String): String = {
    val t = s"${sqlCatalogWh(s, dir)}/docspart"
    if (ops.Manifest.currentVersion(s, t).isEmpty)
      s.sql("""CREATE TABLE gsql.docspart
              |(doc_id BIGINT, source STRING, text STRING)
              |PARTITIONED BY (source)""".stripMargin)
    if (ops.Manifest.currentVersion(s, t).contains(1)) {
      T(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .createOrReplaceTempView("graft_docs_src")
      s.sql("INSERT INTO gsql.docspart SELECT * FROM graft_docs_src")
    }
    t
  }

  /** Build-once fixture: `gsql.docswt` — the DataFrame-writer
    * symmetry table: CREATEd partitioned via SQL, filled by
    * `df.writeTo(...).append()` (v2), then src3's partition replaced
    * whole by `overwritePartitions()` (v3, the connector's V2 staged
    * dynamic overwrite).
    */
  private def sqlCatalogDocsWriteTo(s: SparkSession, dir: String): String = {
    val t = s"${sqlCatalogWh(s, dir)}/docswt"
    if (ops.Manifest.currentVersion(s, t).isEmpty)
      s.sql("""CREATE TABLE gsql.docswt
              |(doc_id BIGINT, source STRING, text STRING)
              |PARTITIONED BY (source)""".stripMargin)
    if (ops.Manifest.currentVersion(s, t).contains(1))
      T(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .writeTo("gsql.docswt").append()
    if (ops.Manifest.currentVersion(s, t).contains(2))
      T(s, dir, "documents").filter(col("source") === "src3")
        .select(col("doc_id"), col("source"),
          concat(lit("w:"), col("text")).as("text"))
        .writeTo("gsql.docswt").overwritePartitions()
    t
  }

  /** Build-once fixture: `gsql.natov` — full nation at v2, then SQL
    * INSERT OVERWRITE with only region 2's rows at v3.
    */
  private def sqlCatalogNationOv(s: SparkSession, dir: String): String = {
    val t = s"${sqlCatalogWh(s, dir)}/natov"
    T(s, dir, "nation").createOrReplaceTempView("graft_nation_src")
    if (ops.Manifest.currentVersion(s, t).isEmpty)
      s.sql(s"CREATE TABLE gsql.natov (${T(s, dir, "nation").schema.toDDL})")
    if (ops.Manifest.currentVersion(s, t).contains(1))
      s.sql("INSERT INTO gsql.natov SELECT * FROM graft_nation_src")
    if (ops.Manifest.currentVersion(s, t).contains(2))
      s.sql("""INSERT OVERWRITE gsql.natov
              |SELECT n_nationkey, n_name, n_regionkey
              |FROM graft_nation_src WHERE n_regionkey = 2""".stripMargin)
    t
  }

  /** Registers the documents projection as `graft_docs_src` and
    * build-onces a 3-column docs table `gsql.<name>` at v2 — the
    * shared setup of every row-level-DML fixture below.
    */
  private def sqlCatalogDocsBase(s: SparkSession, dir: String,
      name: String): String = {
    val t = s"${sqlCatalogWh(s, dir)}/$name"
    T(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .createOrReplaceTempView("graft_docs_src")
    if (ops.Manifest.currentVersion(s, t).isEmpty)
      s.sql(s"CREATE TABLE gsql.$name " +
        "(doc_id BIGINT, source STRING, text STRING)")
    if (ops.Manifest.currentVersion(s, t).contains(1))
      s.sql(s"INSERT INTO gsql.$name SELECT * FROM graft_docs_src")
    t
  }

  /** Build-once fixture: `gsql.docsupd` — documents at v2, then a SQL
    * UPDATE (v3) through Spark's group-based row-level rewrite
    * ([[sources.RowLevelOps]]): runtime group filtering narrows the
    * copy-on-write rewrite to files that provably contain a match.
    */
  private def sqlCatalogDocsUpd(s: SparkSession, dir: String): String = {
    val t = sqlCatalogDocsBase(s, dir, "docsupd")
    if (ops.Manifest.currentVersion(s, t).contains(2))
      s.sql("""UPDATE gsql.docsupd SET text = concat('u:', text)
              |WHERE doc_id % 11 = 3""".stripMargin)
    t
  }

  /** Build-once fixture: `gsql.docsmrg` — documents at v2, then one
    * MERGE INTO (v3) exercising all three branches: matched-delete
    * (doc_id ≡ 5 mod 13), matched-update ('m:' prefix on ≡ 0 mod 13),
    * and not-matched-insert (id-shifted 'new:' rows).
    */
  private def sqlCatalogDocsMerge(s: SparkSession, dir: String): String = {
    val t = sqlCatalogDocsBase(s, dir, "docsmrg")
    if (ops.Manifest.currentVersion(s, t).contains(2)) {
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_merge_src AS
              |SELECT doc_id, source, concat('m:', text) AS text
              |FROM graft_docs_src WHERE doc_id % 13 IN (0, 5)
              |UNION ALL
              |SELECT doc_id + 20000000 AS doc_id, source,
              |  concat('new:', text) AS text
              |FROM graft_docs_src WHERE doc_id % 997 = 0""".stripMargin)
      s.sql("""MERGE INTO gsql.docsmrg t USING graft_merge_src s
              |ON t.doc_id = s.doc_id
              |WHEN MATCHED AND s.doc_id % 13 = 5 THEN DELETE
              |WHEN MATCHED THEN UPDATE SET text = s.text
              |WHEN NOT MATCHED THEN
              |  INSERT (doc_id, source, text)
              |  VALUES (s.doc_id, s.source, s.text)""".stripMargin)
    }
    t
  }

  /** Build-once fixture: `gsql.docscow` — documents at v2, then a
    * DELETE with an IN-subquery predicate (v3): untranslatable to
    * data-source filters, so it takes the copy-on-write group rewrite
    * (files rewritten, no deletion vector) instead of the DV path.
    */
  private def sqlCatalogDocsCow(s: SparkSession, dir: String): String = {
    val t = sqlCatalogDocsBase(s, dir, "docscow")
    if (ops.Manifest.currentVersion(s, t).contains(2))
      s.sql("""DELETE FROM gsql.docscow WHERE doc_id IN
              |(SELECT doc_id FROM graft_docs_src WHERE doc_id % 5 = 1)
              |""".stripMargin)
    t
  }

  /** Build-once fixture: `gsql.ordd` — an orders projection with real
    * DATE and TIMESTAMP columns, INSERTed date-SORTED (so files carry
    * tight epoch-day/micros manifest ranges), then a SQL UPDATE whose
    * date predicate group-prunes to the tail files. Exercises the
    * date/timestamp lane end-to-end: typed CREATE, stats-on-write in
    * the date domain, the manifest reader's INT96/INT64 timestamp
    * decode, filter translation to epoch days, and the COW writer's
    * annotated re-encode.
    */
  private def sqlCatalogOrdersDt(s: SparkSession, dir: String): String = {
    val t = s"${sqlCatalogWh(s, dir)}/ordd"
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        col("o_orderpriority"))
      .createOrReplaceTempView("graft_orders_src")
    if (ops.Manifest.currentVersion(s, t).isEmpty)
      s.sql("""CREATE TABLE gsql.ordd
              |(o_orderkey BIGINT, o_odate DATE, o_ts TIMESTAMP,
              | o_totalprice DOUBLE, o_orderpriority STRING)""".stripMargin)
    if (ops.Manifest.currentVersion(s, t).contains(1))
      s.sql("""INSERT INTO gsql.ordd
              |SELECT o_orderkey, CAST(o_orderdate AS DATE),
              |  CAST(o_orderdate AS TIMESTAMP), o_totalprice,
              |  o_orderpriority
              |FROM graft_orders_src ORDER BY o_orderdate""".stripMargin)
    if (ops.Manifest.currentVersion(s, t).contains(2))
      s.sql("""UPDATE gsql.ordd SET o_orderpriority = 'X-LATE'
              |WHERE o_odate >= DATE'2001-06-01'""".stripMargin)
    t
  }

  /** Build-once fixture: `gsql.docsopt` — documents fragmented across
    * FIVE small insert commits (v2..v6), then maintenance SQL
    * `OPTIMIZE` (v7) bin-packs the tail. Each step is version-gated,
    * so a crash mid-build resumes exactly where it stopped.
    */
  private def sqlCatalogDocsOpt(s: SparkSession, dir: String): String = {
    val t = s"${sqlCatalogWh(s, dir)}/docsopt"
    T(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .createOrReplaceTempView("graft_docs_src")
    if (ops.Manifest.currentVersion(s, t).isEmpty)
      s.sql("CREATE TABLE gsql.docsopt " +
        "(doc_id BIGINT, source STRING, text STRING)")
    (0 until 5).foreach { k =>
      if (ops.Manifest.currentVersion(s, t).contains(k + 1))
        s.sql("INSERT INTO gsql.docsopt SELECT * FROM graft_docs_src " +
          s"WHERE doc_id % 5 = $k")
    }
    if (ops.Manifest.currentVersion(s, t).contains(6))
      sources.GraftSql.exec(s, "OPTIMIZE gsql.docsopt")
    t
  }

  /** Build-once fixture: `gsql.docsclone` — a CLONE of the optimized
    * docs table: byte-for-byte snapshot copy (layout, stats, blooms
    * carry), fully independent history from v1.
    */
  private def sqlCatalogDocsClone(s: SparkSession, dir: String): String = {
    sqlCatalogDocsOpt(s, dir) // the clone source must exist first
    val t = s"${sqlCatalogWh(s, dir)}/docsclone"
    if (ops.Manifest.currentVersion(s, t).isEmpty)
      sources.GraftSql.exec(s, "CLONE gsql.docsopt TO gsql.docsclone")
    t
  }

  /** Build-once fixture: orders + lineitem as BUCKETED tables (8
    * buckets on the order key, sorted within buckets), registered in
    * the session catalog with external data under layoutDir. The
    * co-located join query reads them shuffle-free; see
    * [[ops.Bucketing]] for the 100 TB rationale.
    */
  private def bucketedPair(s: SparkSession, dir: String): Unit = {
    ops.Bucketing.ensureBucketed(T(s, dir, "orders"), "g_orders_b",
      layoutDir("orders-bucketed", dir), 8, "o_orderkey")
    ops.Bucketing.ensureBucketed(T(s, dir, "lineitem"), "g_lineitem_b",
      layoutDir("lineitem-bucketed", dir), 8, "l_orderkey")
  }

  /** Build-once fixture for the in-place delete pair: a doc_id-
    * clustered documents copy whose manifest is committed to v2 by an
    * in-place delete of doc_id 200-260. Both queries (post-delete
    * current read, v1 time travel) are self-contained through this —
    * idempotent guards, any subset order works. A crash mid-delete
    * re-runs it: `ensure` re-reads v1 and the delta overwrite is
    * idempotent, CURRENT only ever flips after a complete snapshot.
    */
  private def inPlaceDeleteDir(s: SparkSession, dir: String): String = {
    val src = layoutDir("docs-byid-ip", dir)
    if (!new java.io.File(s"$src/_SUCCESS").exists())
      T(s, dir, "documents")
        .repartitionByRange(16, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(src)
    if (ops.Manifest.currentVersion(s, src).forall(_ < 2))
      ops.Layout.deleteInPlace(s, src,
        col("doc_id").between(200, 260), statCols = Seq("doc_id"))
    src
  }

  /** Build-once fixture for the change-feed pair (ns_cdf /
    * ns_change_feed): a doc_id-clustered documents copy taken through
    * delete (v2) → upsert (v3) → append (v4), each commit recording
    * its change set. Idempotent via version guards.
    */
  private def cdfFixtureDir(s: SparkSession, dir: String): String = {
    val src = layoutDir("docs-byid-cdf", dir)
    if (!new java.io.File(s"$src/_SUCCESS").exists())
      T(s, dir, "documents")
        .repartitionByRange(16, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(src)
    val docs = T(s, dir, "documents")
    if (ops.Manifest.currentVersion(s, src).forall(_ < 2))
      ops.Layout.deleteInPlace(s, src,
        col("doc_id").between(100, 140), statCols = Seq("doc_id"))
    if (ops.Manifest.currentVersion(s, src).forall(_ < 3))
      ops.Layout.upsertInPlace(s, src,
        docs.filter(col("doc_id") % 97 === 0)
          .withColumn("text", concat(lit("u:"), col("text"))),
        "doc_id", statCols = Seq("doc_id"))
    if (ops.Manifest.currentVersion(s, src).forall(_ < 4))
      ops.Layout.appendInPlace(s, src,
        docs.filter(col("doc_id") % 193 === 0)
          .withColumn("doc_id", col("doc_id") + 800000L)
          .withColumn("text", concat(lit("n:"), col("text"))),
        statCols = Seq("doc_id"))
    src
  }

  // ---------------------------------------------------------------- //

  private lazy val registry: Seq[Q] = Seq(

    // W1+W2 flagship: top-90%-mass tokens (basic_tasks.py:92-105).
    q("w2_top90",
      """WITH toks AS (
        |  SELECT t.token FROM documents,
        |    unnest(string_split_regex(lower(text), '\W+')) AS t(token)
        |  WHERE length(t.token) > 1),
        |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT sum(cnt) AS total FROM counts),
        |w AS (SELECT token, cnt,
        |        sum(cnt) OVER (ORDER BY cnt DESC, token ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |      FROM counts)
        |SELECT token, cnt FROM w, tot
        |WHERE running < 0.9 * total
        |ORDER BY cnt DESC, token""".stripMargin) {
      (s, dir) => Text.topPTokens(T(s, dir, "documents"), 0.9)
    },

    // W2 detail form: the token stream filtered to top-90% tokens.
    q("w2_top90_detail",
      """WITH toks AS (
        |  SELECT doc_id, t.token FROM documents,
        |    unnest(string_split_regex(lower(text), '\W+')) AS t(token)
        |  WHERE length(t.token) > 1),
        |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT sum(cnt) AS total FROM counts),
        |w AS (SELECT token, cnt,
        |        sum(cnt) OVER (ORDER BY cnt DESC, token ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |      FROM counts)
        |SELECT doc_id, token FROM toks
        |WHERE token IN (SELECT token FROM w, tot WHERE running < 0.9 * total)
        |ORDER BY doc_id, token""".stripMargin) {
      (s, dir) => Text.topPDetail(T(s, dir, "documents"), 0.9)
    },

    // G1/G3: Q1-style pricing summary.
    q("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) {
      (s, dir) => Relational.pricingSummary(T(s, dir, "lineitem"))
    },

    // G1: value_counts with deterministic tiebreak (basic_tasks.py:82-89).
    q("g1_value_counts",
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin) {
      (s, dir) => Text.valueCounts(T(s, dir, "events"), "event_type")
    },

    // P2: prefix predicate (basic_tasks.py:43-51).
    q("p2_prefix_filter",
      """SELECT doc_id, lang, source FROM documents
        |WHERE text LIKE 'the %' ORDER BY doc_id""".stripMargin) {
      (s, dir) => Relational.prefixFilter(T(s, dir, "documents"), "the ")
    },

    // P4: boolean flag with null default (basic_tasks.py:103).
    q("p4_bool_flag",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE coalesce(o_totalprice > 200000, false)
        |ORDER BY o_orderkey""".stripMargin) {
      (s, dir) => Relational.boolFlagFilter(T(s, dir, "orders"))
    },

    // P6: deterministic dedup — first event per (user, type) by time.
    q("p6_dedup_first",
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) {
      (s, dir) =>
        Relational.dedupKeepFirst(T(s, dir, "events"),
            Seq("user_id", "event_type"), Seq("ts", "event_id"))
          .select("user_id", "event_type", "event_id")
          .orderBy("user_id", "event_type")
    },

    // J2: broadcast left lookup join (basic_tasks.py:102).
    q("j2_left_join",
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) {
      (s, dir) =>
        Relational.ordersWithCustomer(T(s, dir, "orders"), T(s, dir, "customer"))
    },

    // J4: semi join.
    q("j4_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) {
      (s, dir) =>
        Relational.customersWithOrders(T(s, dir, "customer"), T(s, dir, "orders"))
    },

    // J4: anti join.
    q("j4_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) {
      (s, dir) =>
        Relational.customersWithoutOrders(T(s, dir, "customer"), T(s, dir, "orders"))
    },

    // 3-way join + agg: revenue per market segment.
    q("j4_revenue_by_segment",
      """SELECT c_mktsegment,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
      (s, dir) =>
        Relational.revenueBySegment(T(s, dir, "lineitem"),
          T(s, dir, "orders"), T(s, dir, "customer"))
    },

    // G2: scalar sum (basic_tasks.py:99).
    q("g2_scalar_sum",
      "SELECT round(sum(l_quantity), 2) AS total_qty FROM lineitem") {
      (s, dir) => Relational.scalarSum(T(s, dir, "lineitem"))
    },

    // G3: distinct aggregates.
    q("g3_distinct_agg",
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) => Relational.distinctAgg(T(s, dir, "lineitem"))
    },

    // G3: rollup grouping sets.
    q("g3_rollup",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin) {
      (s, dir) => Relational.rollupAgg(T(s, dir, "orders"))
    },

    // W1: per-key running cumulative sum (basic_tasks.py:100).
    q("w1_running_sum",
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) {
      (s, dir) => Relational.runningCustomerSpend(T(s, dir, "orders"))
    },

    // W3: rank / dense_rank / lag.
    q("w3_ranks",
      """SELECT o_custkey, o_orderkey, rnk, drnk, prev_price FROM (
        |  SELECT o_custkey, o_orderkey,
        |    rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |    round(lag(o_totalprice, 1) OVER w, 2) AS prev_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE prev_price IS NOT NULL
        |ORDER BY o_custkey, o_orderkey""".stripMargin) {
      (s, dir) => Relational.orderRanks(T(s, dir, "orders"))
    },

    // W3: distribution functions + unbounded-frame first/last.
    q("w3_distribution",
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  first_value(o_totalprice) OVER wf AS cheapest,
        |  last_value(o_totalprice) OVER wf AS priciest
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice ASC, o_orderkey ASC),
        |  wf AS (PARTITION BY o_custkey
        |         ORDER BY o_totalprice ASC, o_orderkey ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) {
      (s, dir) => Relational.priceDistribution(T(s, dir, "orders"))
    },

    // O2: stable pagination, page 2 of 30 (serve_view_df.py:108-116).
    q("o2_page",
      """SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn > 30 AND rn <= 60
        |ORDER BY o_totalprice DESC, o_orderkey ASC""".stripMargin) {
      (s, dir) => Relational.page(T(s, dir, "orders"), 30, 1)
    },

    // O2: negative page index — last 30 rows of the order.
    q("o2_page_neg",
      """SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice ASC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn <= 30
        |ORDER BY o_totalprice DESC, o_orderkey ASC""".stripMargin) {
      (s, dir) => Relational.page(T(s, dir, "orders"), 30, -1)
    },

    // O3: top-k per group.
    q("o3_topk_per_group",
      """SELECT p_brand, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin) {
      (s, dir) => Relational.topKPerGroup(T(s, dir, "part"), 3)
    },

    // O3 via the custom physical operator: partial bounded heaps per
    // map partition -> one pruned exchange -> final heaps
    // (graft.plans.TopKPerKeyExec). Same rows as the window form, so
    // the same oracle; the shuffle-volume claim is runtime-asserted
    // in TopKPerKeySpec.
    q("o3_topk_exec",
      """SELECT p_brand, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin) {
      (s, dir) => graft.plans.TopKPerKey.topK(
          T(s, dir, "part").select("p_brand", "p_partkey", "p_retailprice"),
          Seq("p_brand"),
          Seq(col("p_retailprice").desc, col("p_partkey").asc), 3)
        .orderBy(col("p_brand").asc, col("p_retailprice").desc,
          col("p_partkey").asc)
    },

    // G3: misc aggregates (sorted listagg, bit ops, arg-min/max).
    q("g3_misc_aggs",
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',')
        |    AS priorities,
        |  bit_or(o_custkey) AS cust_bits_or,
        |  bit_and(o_custkey) AS cust_bits_and,
        |  arg_min(o_totalprice, o_orderkey) AS first_order_price,
        |  arg_max(o_totalprice, o_orderkey) AS last_order_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (s, dir) => Relational.miscAggs(T(s, dir, "orders"))
    },

    // G3: statistical aggregates (exact percentiles, stddev, corr).
    q("g3_stats",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) => Relational.statsByFlag(T(s, dir, "lineitem"))
    },

    // F-series breadth: common string functions.
    q("f_string_funcs",
      """SELECT c_custkey,
        |  lpad(c_custkey::VARCHAR, 10, '0') AS padded,
        |  upper(c_mktsegment) AS seg_upper,
        |  reverse(c_name) AS name_rev,
        |  translate(c_name, '#', '-') AS name_dash,
        |  repeat('ab', 3) AS abab
        |FROM customer ORDER BY c_custkey""".stripMargin) {
      (s, dir) => Relational.stringFunctions(T(s, dir, "customer"))
    },

    // Pivot: per-user event counts spread across type columns.
    q("g3_pivot",
      """SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) => Relational.pivotEventCounts(T(s, dir, "events"))
    },

    // W3 range frame: value-based window (orders within +/-10000 price).
    q("w3_range_frame",
      """SELECT o_custkey, o_orderkey,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS n_in_band
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) {
      (s, dir) => Relational.ordersInPriceBand(T(s, dir, "orders"))
    },

    // W3 ntile: per-customer price quartiles.
    q("w3_ntile",
      """SELECT o_custkey, o_orderkey,
        |  ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS quartile
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) {
      (s, dir) => Relational.orderQuartiles(T(s, dir, "orders"))
    },

    // Set operations.
    q("set_union",
      """SELECT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION SELECT s_nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin) {
      (s, dir) =>
        Relational.nationKeySetOp(T(s, dir, "customer"), T(s, dir, "supplier"), "union")
    },

    q("set_intersect",
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT DISTINCT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) {
      (s, dir) =>
        Relational.nationKeySetOp(T(s, dir, "customer"), T(s, dir, "supplier"), "intersect")
    },

    q("set_except",
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT DISTINCT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) {
      (s, dir) =>
        Relational.nationKeySetOp(T(s, dir, "customer"), T(s, dir, "supplier"), "except")
    },

    // F1/F5: split + explode (basic_tasks.py:32-40, tests/test2.py:20-27).
    q("f1_split_explode",
      """SELECT doc_id, t.word FROM documents,
        |  unnest(string_split(text, ' ')) AS t(word)
        |ORDER BY doc_id, word""".stripMargin) {
      (s, dir) => Functions.splitExplode(T(s, dir, "documents"))
    },

    // F2+F3+P3 composed: the cleaned token stream with row ids.
    q("f2_tokenize",
      """SELECT doc_id, t.token FROM documents,
        |  unnest(string_split_regex(lower(text), '\W+')) AS t(token)
        |WHERE length(t.token) > 1
        |ORDER BY doc_id, token""".stripMargin) {
      (s, dir) => Functions.tokenizeWithId(T(s, dir, "documents"))
    },

    // F3: strip edge non-word chars (basic_tasks.py:73-79).
    q("f3_clean_edges",
      """SELECT p_partkey,
        |  regexp_replace('  ' || p_brand || '##', '^\W+|\W+$', '', 'g') AS cleaned
        |FROM part ORDER BY p_partkey""".stripMargin) {
      (s, dir) => Functions.cleanEdges(T(s, dir, "part"))
    },

    // F4: remove digits (tests/test2.py:9-17).
    q("f4_remove_digits",
      """SELECT c_custkey,
        |  regexp_replace(c_name, '\d', '', 'g') AS name_alpha
        |FROM customer ORDER BY c_custkey""".stripMargin) {
      (s, dir) => Functions.removeDigits(T(s, dir, "customer"))
    },

    // F6: string concat col+col and lit+col (tests/test.py:5-21).
    q("f6_concat",
      """SELECT c_custkey,
        |  c_name || '-' || c_mktsegment AS tagged,
        |  'hello ' || c_name AS greeted
        |FROM customer ORDER BY c_custkey""".stripMargin) {
      (s, dir) => Functions.concatCols(T(s, dir, "customer"))
    },

    // F7: casts long<->string.
    q("f7_casts",
      """SELECT c_custkey, c_custkey::VARCHAR AS key_str,
        |  regexp_replace(c_name, '\D', '', 'g')::BIGINT AS name_num
        |FROM customer ORDER BY c_custkey""".stripMargin) {
      (s, dir) => Functions.casts(T(s, dir, "customer"))
    },

    // F8: scalar arithmetic (basic_tasks.py:100).
    q("f8_arithmetic",
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
        |  l_linenumber * 2 + 1 AS odd_line
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) {
      (s, dir) => Functions.arithmetic(T(s, dir, "lineitem"))
    },

    // F9: display truncation (serve_view_df.py:132-139).
    q("f9_truncate",
      """SELECT doc_id,
        |  CASE WHEN length(text) > 30 THEN substr(text, 1, 30) || '...'
        |       ELSE text END AS display
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) => Functions.truncateDisplay(T(s, dir, "documents"))
    },

    // F10: date_trunc month aggregation.
    q("f10_month_agg",
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY month ORDER BY month""".stripMargin) {
      (s, dir) => Functions.ordersPerMonth(T(s, dir, "orders"))
    },

    // Null-handling functions.
    q("f_null_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  nullif(l_returnflag, 'N') AS flag_or_null,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_filled,
        |  greatest(l_discount, l_tax) AS max_rate,
        |  least(l_discount, l_tax) AS min_rate,
        |  CASE WHEN l_discount > 0.05 THEN 'deep' ELSE 'shallow' END
        |    AS discount_band
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) {
      (s, dir) => Functions.nullFunctions(T(s, dir, "lineitem"))
    },

    // Union by name with missing columns (null-filled).
    q("set_union_byname",
      """SELECT id, name, bal FROM (
        |  SELECT c_custkey AS id, c_name AS name FROM customer
        |  UNION ALL BY NAME
        |  SELECT s_suppkey AS id, s_name AS name, s_acctbal AS bal
        |  FROM supplier)
        |ORDER BY id, name""".stripMargin) {
      (s, dir) =>
        Functions.unionByNameEntities(T(s, dir, "customer"), T(s, dir, "supplier"))
    },

    // Regex capture-group extraction.
    q("f_regexp_extract",
      """SELECT c_custkey, regexp_extract(c_name, '(\d+)', 1) AS digits
        |FROM customer ORDER BY c_custkey""".stripMargin) {
      (s, dir) => Functions.regexpExtract(T(s, dir, "customer"))
    },

    // F10: date arithmetic + calendar extraction.
    q("f10_date_arith",
      """SELECT o_orderkey,
        |  date_diff('day', DATE '1995-01-01', o_orderdate::DATE)::INT
        |    AS days_since_95,
        |  extract(year FROM o_orderdate)::INT AS yr,
        |  extract(month FROM o_orderdate)::INT AS mth
        |FROM orders ORDER BY o_orderkey""".stripMargin) {
      (s, dir) => Functions.dateArithmetic(T(s, dir, "orders"))
    },

    // F10: array functions (size / membership / distinct-sort-slice).
    q("f10_array_funcs",
      """SELECT doc_id,
        |  len(string_split(text, ' '))::INT AS n_toks,
        |  list_contains(string_split(text, ' '), 'the') AS has_the,
        |  array_to_string(
        |    (list_sort(list_distinct(string_split(text, ' '))))[1:3], '-')
        |    AS first3
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) => Functions.arrayFunctions(T(s, dir, "documents"))
    },

    // F10: JSON extraction + aggregation.
    q("f10_json_agg",
      """SELECT event_type, count(*) AS n,
        |  (sum(json_extract_string(props, '$.k')::BIGINT))::BIGINT AS k_total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) => Functions.jsonAgg(T(s, dir, "events"))
    },

    // Streaming (batch form): tumbling 1-hour windows.
    q("st_hourly_window",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f')
        |    AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS mass
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin) {
      (s, dir) => Events.hourlyTypeCounts(T(s, dir, "events"))
        .select(tsStr(col("window_start")).as("window_start"),
          col("event_type"), col("n"), col("mass"))
        .orderBy("window_start", "event_type")
    },

    // Streaming cardinality: HLL registers maintained in
    // transformWithState over the drained event stream; the estimate
    // from the final state equals the batch sketch bit-for-bit (the
    // oracle recomputes it directly over the events table), with the
    // exact distinct count alongside. State: one int per
    // (event_type, register) — types x 256 entries total, regardless
    // of stream volume.
    q("st_hll_users", graft.streaming.HllStream.hllUsersOracle) {
      (s, dir) => graft.streaming.HllStream.availableNowHllUsers(s, dir)
    },

    // Streaming, actually streamed: Trigger.AvailableNow drains the
    // events parquet as a stream; result must equal the batch
    // aggregation (same oracle SQL as st_hourly_window).
    q("st_available_now",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f')
        |    AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS mass
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin) {
      (s, dir) => graft.streaming.EventStreams.availableNowHourly(s, dir)
        .select(tsStr(col("window_start")).as("window_start"),
          col("event_type"), col("n"), col("mass"))
        .orderBy("window_start", "event_type")
    },

    // Streaming (batch form): sliding 1-hour/30-min windows.
    q("st_sliding_window",
      """WITH w AS (SELECT unnest([
        |    make_timestamp((epoch_us(ts) // 1800000000) * 1800000000),
        |    make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000)
        |  ]) AS ws FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
        |  count(*) AS n FROM w
        |GROUP BY window_start ORDER BY window_start""".stripMargin) {
      (s, dir) => Events.slidingCounts(T(s, dir, "events"))
        .select(tsStr(col("window_start")).as("window_start"), col("n"))
        .orderBy("window_start")
    },

    // ---- Advanced join/query patterns (SURVEY §2.B J4 extensions)

    // As-of join via union + running-last window (no range-join fanout).
    q("j4_asof_join",
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS prev_click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY event_id""".stripMargin) {
      (s, dir) => Advanced.asofPurchaseClick(T(s, dir, "events"))
        .select(col("event_id"), col("user_id"), tsStr(col("ts")).as("ts"),
          tsStr(col("prev_click_ts")).as("prev_click_ts"))
        .orderBy("event_id")
    },

    // Salted skew join — oracle is the UNSALTED join: semantics equal.
    q("j4_salted_join",
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) {
      (s, dir) => Advanced.saltedRevenueByNation(T(s, dir, "lineitem"),
        T(s, dir, "supplier"), T(s, dir, "nation"))
    },

    // Correlated EXISTS via the spark.sql surface.
    q("sql_exists",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) {
      (s, dir) => Advanced.sqlExists(s, dir)
    },

    // Scalar subquery via the spark.sql surface.
    q("sql_scalar_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin) {
      (s, dir) => Advanced.sqlScalarSubquery(s, dir)
    },

    // TPC-H Q3 shape: top-10 revenue orders for one segment.
    q("q3_shipping_priority",
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin) {
      (s, dir) => Advanced.shippingPriority(T(s, dir, "lineitem"),
        T(s, dir, "orders"), T(s, dir, "customer"))
    },

    // TPC-H Q10 shape: returned-item revenue per customer, top 20
    // (scan-filtered fact, broadcast dims).
    q("q10_returned_revenue",
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin) {
      (s, dir) => Advanced.returnedRevenue(T(s, dir, "lineitem"),
        T(s, dir, "orders"), T(s, dir, "customer"), T(s, dir, "nation"))
    },

    // TPC-H Q12 shape: conditional aggregation over the order join.
    q("q12_priority_lines",
      """SELECT l_linestatus,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |             THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |             THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) {
      (s, dir) => Advanced.priorityLineCounts(T(s, dir, "lineitem"),
        T(s, dir, "orders"))
    },

    // TPC-H Q18 shape: large-volume orders via aggregated-subquery
    // semi-join.
    q("q18_large_orders",
      """WITH big AS (SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250.0)
        |SELECT c_name, o_orderkey, o_totalprice,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |JOIN big USING (l_orderkey)
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_name, o_orderkey, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin) {
      (s, dir) => Advanced.largeOrders(T(s, dir, "lineitem"),
        T(s, dir, "orders"), T(s, dir, "customer"))
    },

    // TPC-H Q2 shape: correlated min-cost subquery, decorrelated as a
    // per-part min agg joined back (no partsupp in the testdata;
    // lineitem is the part-supplier bridge).
    q("q2_min_cost_supplier", ops.Advanced.minCostSupplierOracle()) {
      (s, dir) => Advanced.minCostSupplier(T(s, dir, "lineitem"),
        T(s, dir, "part"), T(s, dir, "supplier"), T(s, dir, "nation"),
        T(s, dir, "region"))
    },

    // TPC-H Q20 shape: nested semi-join chain (part-name filter ->
    // volume-share threshold -> supplier -> region nations).
    q("q20_qualified_suppliers", ops.Advanced.qualifiedSuppliersOracle()) {
      (s, dir) => Advanced.qualifiedSuppliers(T(s, dir, "lineitem"),
        T(s, dir, "part"), T(s, dir, "supplier"), T(s, dir, "nation"),
        T(s, dir, "region"))
    },

    // TPC-H Q6 shape: pure scan-aggregate, every predicate pushed.
    q("q6_discount_band", ops.Advanced.discountBandRevenueOracle()) {
      (s, dir) => Advanced.discountBandRevenue(T(s, dir, "lineitem"))
    },

    // TPC-H Q17 shape: per-part avg-quantity correlated subquery,
    // decorrelated (integral sums -> exact threshold parity).
    q("q17_small_qty_revenue", ops.Advanced.smallQuantityRevenueOracle()) {
      (s, dir) => Advanced.smallQuantityRevenue(T(s, dir, "lineitem"),
        T(s, dir, "part"))
    },

    // TPC-H Q4 shape: correlated EXISTS with a both-sides predicate.
    q("q4_late_orders", ops.Advanced.latePriorityOrdersOracle()) {
      (s, dir) => Advanced.latePriorityOrders(T(s, dir, "lineitem"),
        T(s, dir, "orders"))
    },

    // TPC-H Q7 shape: two-role nation dimension, bilateral trade.
    q("q7_nation_trade", ops.Advanced.nationTradeRevenueOracle()) {
      (s, dir) => Advanced.nationTradeRevenue(T(s, dir, "lineitem"),
        T(s, dir, "supplier"), T(s, dir, "nation"), T(s, dir, "orders"),
        T(s, dir, "customer"))
    },

    // TPC-H Q8 shape: market-share ratio over a six-table join.
    q("q8_market_share", ops.Advanced.nationMarketShareOracle()) {
      (s, dir) => Advanced.nationMarketShare(T(s, dir, "lineitem"),
        T(s, dir, "part"), T(s, dir, "supplier"), T(s, dir, "nation"),
        T(s, dir, "orders"), T(s, dir, "customer"), T(s, dir, "region"))
    },

    // TPC-H Q9 shape: multi-table profit expression by nation-year
    // (p_retailprice stands in for the missing supplycost).
    q("q9_nation_profit", ops.Advanced.nationProfitOracle()) {
      (s, dir) => Advanced.nationProfit(T(s, dir, "lineitem"),
        T(s, dir, "part"), T(s, dir, "supplier"), T(s, dir, "nation"),
        T(s, dir, "orders"))
    },

    // TPC-H Q11 shape: value concentration vs a scalar threshold
    // (scale-free 2x-mean cut instead of TPC-H's 1/SF fraction).
    q("q11_value_concentration", ops.Advanced.valueConcentrationOracle()) {
      (s, dir) => Advanced.valueConcentration(T(s, dir, "lineitem"),
        T(s, dir, "supplier"), T(s, dir, "nation"))
    },

    // TPC-H Q13 shape: left-outer count histogram (keeps zeros).
    q("q13_order_histogram", ops.Advanced.orderCountHistogramOracle) {
      (s, dir) => Advanced.orderCountHistogram(T(s, dir, "customer"),
        T(s, dir, "orders"))
    },

    // TPC-H Q15 shape: scalar MAX subquery matched back by equality.
    q("q15_top_supplier", ops.Advanced.topRevenueSupplierOracle()) {
      (s, dir) => Advanced.topRevenueSupplier(T(s, dir, "lineitem"),
        T(s, dir, "supplier"))
    },

    // TPC-H Q16 shape: NOT IN as anti join + count-distinct rollup.
    q("q16_part_suppliers", ops.Advanced.partSupplierCountsOracle) {
      (s, dir) => Advanced.partSupplierCounts(T(s, dir, "lineitem"),
        T(s, dir, "part"), T(s, dir, "supplier"))
    },

    // TPC-H Q14 shape: conditional-aggregate ratio (promo share).
    q("q14_promo_share", ops.Advanced.promoRevenueShareOracle()) {
      (s, dir) => Advanced.promoRevenueShare(T(s, dir, "lineitem"),
        T(s, dir, "part"))
    },

    // TPC-H Q19 shape: disjunctive multi-band predicate join.
    q("q19_band_revenue", ops.Advanced.disjunctiveBandRevenueOracle) {
      (s, dir) => Advanced.disjunctiveBandRevenue(T(s, dir, "lineitem"),
        T(s, dir, "part"))
    },

    // TPC-H Q21 shape: EXISTS + NOT EXISTS on the same fact
    // (semi + anti over distinct key pairs).
    q("q21_waiting_suppliers", ops.Advanced.waitingSuppliersOracle()) {
      (s, dir) => Advanced.waitingSuppliers(T(s, dir, "lineitem"),
        T(s, dir, "orders"), T(s, dir, "supplier"))
    },

    // TPC-H Q22 shape: scalar-subquery threshold + anti join.
    q("q22_inactive_high_balance", ops.Advanced.inactiveHighBalanceOracle()) {
      (s, dir) => Advanced.inactiveHighBalance(T(s, dir, "customer"),
        T(s, dir, "orders"), T(s, dir, "nation"))
    },

    // TPC-H Q5 shape: nation revenue within one region (4-way join).
    q("q5_region_volume",
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin) {
      (s, dir) => Advanced.regionVolume(T(s, dir, "lineitem"),
        T(s, dir, "orders"), T(s, dir, "supplier"), T(s, dir, "nation"),
        T(s, dir, "region"))
    },

    // Approximate aggregates: exact companions hash-checked; the
    // sketch columns fold to within-bounds booleans that oracle as
    // constant TRUE (out-of-bounds sketch => hash mismatch).
    q("g3_approx_stats",
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  round(quantile_cont(l_extendedprice, 0.5), 2) AS median_price,
        |  true AS approx_parts_ok,
        |  true AS approx_median_ok
        |FROM lineitem""".stripMargin) {
      (s, dir) => Advanced.approxStats(T(s, dir, "lineitem"))
    },

    // ---- Planner (engine core, SURVEY §2.A): BFS-composed pipelines

    // tests/test2.py end-to-end: plan splitter -> remove_num from the
    // goal column name alone; expected rows are constants.
    q("planner_test2",
      """SELECT * FROM (VALUES ('sankho'), ('sarkar'), ('turjo'))
        |  AS t(alpha_token) ORDER BY alpha_token""".stripMargin) {
      (s, _) => graft.planner.Library.test2Pipeline(s)
    },

    // The flagship top90, but BFS-PLANNED from goal `text.tokens.top90`
    // (tokenize -> counts -> top90); must equal the hand-built plan,
    // so it shares w2_top90's oracle.
    q("planner_top90",
      """WITH toks AS (
        |  SELECT t.token FROM documents,
        |    unnest(string_split_regex(lower(text), '\W+')) AS t(token)
        |  WHERE length(t.token) > 1),
        |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT sum(cnt) AS total FROM counts),
        |w AS (SELECT token, cnt,
        |        sum(cnt) OVER (ORDER BY cnt DESC, token ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |      FROM counts)
        |SELECT token, cnt FROM w, tot
        |WHERE running < 0.9 * total
        |ORDER BY cnt DESC, token""".stripMargin) {
      (s, dir) => graft.planner.Library.plannedTop90(T(s, dir, "documents"))
    },

    // Exact dedup reached BY PLANNING (BFS composes the registered
    // dedup task from the goal name); shares ns_dedup_exact's oracle.
    q("planner_dedup",
      """WITH b AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM b GROUP BY ('0x' || substr(md5(text), 1, 15))::BIGINT
        |ORDER BY canonical_id""".stripMargin) {
      (s, dir) => graft.planner.Library.plannedDedup(T(s, dir, "documents"))
    },

    // ---- North-star: dedup / similarity / text analysis / multimodal

    // Exact dedup by content hash (fixture: exact copies at id+1e6).
    q("ns_dedup_exact",
      """WITH b AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM b GROUP BY ('0x' || substr(md5(text), 1, 15))::BIGINT
        |ORDER BY canonical_id""".stripMargin) {
      (s, dir) => Dedup.exactDedup(T(s, dir, "documents"))
    },

    // MinHash signatures + banded LSH near-dup pairs.
    q("ns_dedup_minhash_lsh", Dedup.minhashLshOracle(0.5)) {
      (s, dir) => Dedup.minhashLsh(T(s, dir, "documents"), 0.5)
    },

    // Overlap-coefficient (containment) pairs: inclusion dedup —
    // a short doc quoted inside a long one scores low Jaccard but
    // overlap 1.0. Every original/variant fixture pair must hit 1.0.
    q("ns_dedup_containment", Dedup.ngramContainmentOracle(0.8)) {
      (s, dir) =>
        Dedup.ngramContainment(Dedup.ngramFixture(T(s, dir, "documents")), 0.8)
    },

    // Incremental dedup against a persisted LSH band index: the index
    // is built ONCE over the standing corpus (scratch-dir lifecycle,
    // like the IVF indexes), then the batch probes it map-only —
    // broadcast batch bands + dynamic partition pruning on the
    // bucket layout — and keep-firsts against itself. The daily-
    // ingest shape at 100 TB: per-batch cost is O(batch), not
    // O(corpus).
    q("ns_dedup_incremental", Dedup.dedupIncrOracle(0.5)) {
      (s, dir) =>
        // the tag carries the LSH geometry, a fixture-split version,
        // AND a corpus content fingerprint: a Bands/
        // signature-width change must invalidate persisted indexes
        // (stale band keys), so must a batch/base split change (the
        // index holds incrBase, whose membership the split defines),
        // and so must REGENERATED DATA under the same path. The
        // fingerprint sums the PART FILES' sizes and takes their max
        // mtime (round-15 advisor: documents.parquet is a Spark-written
        // DIRECTORY, so File.length() was the constant dirent size and
        // the dir mtime missed in-place part rewrites)
        val (csum, cmtime) = docsFingerprint(dir)
        val idx = layoutDir("lshidx-b" + Dedup.Bands +
          "s" + Dedup.MinhashAB.size +
          "-split2-c" + csum + "m" + cmtime, dir)
        // the manifest pointer is the build-complete marker: the
        // commit writes it LAST, so a crashed build never half-reads
        if (Dedup.lshIndexVersion(s, idx).isEmpty)
          Dedup.lshIndexBuild(Dedup.incrBase(T(s, dir, "documents")), idx)
        Dedup.dedupIncr(T(s, dir, "documents"), idx, 0.5)
    },

    // The COMPLETE ingest loop (round 15): build the index on the
    // base corpus, then three sequential batches of
    // probe -> append-kept — batch 2 dedups against batch 1's kept
    // docs, batch 3 against both. A fresh directory every run: the
    // loop MUTATES its index (that is the thing under test), unlike
    // ns_dedup_incremental's persisted read-only index.
    q("ns_dedup_incr_loop", Dedup.dedupIncrLoopOracle(0.5)) {
      (s, dir) =>
        // fresh dir per run (the loop MUTATES its index), deleted
        // before returning: the decision frames are checkpoint-
        // materialized inside dedupIncrLoop, so the returned plan no
        // longer reads the index and a bench of many reps doesn't
        // accumulate a full build+3-appends index in tmp per rep
        // (round-15 advisor)
        val idx = java.nio.file.Files
          .createTempDirectory("graft-incr-loop")
        try Dedup.dedupIncrLoop(T(s, dir, "documents"), idx.toString, 0.5)
        finally deleteRecursively(idx.toFile)
    },

    // Index-aware keep-best (round 16): quality arbitration at the
    // batch-vs-corpus boundary — a batch doc that outscores every
    // corpus doc it matches REPLACES them (merge-on-read delete
    // against the index's manifest + append), instead of the plain
    // probe's corpus-always-wins. Fresh MUTABLE index per run (the
    // apply form mutates it, so the oracle-checked path exercises the
    // delete/append machinery too) — obtained by CLONING a build-once
    // master (round-17, PLANS.md "Clone vs re-band": the byte-copy
    // clone measured faster than re-banding at every SF — 0.5 s flat vs
    // 1.8→13.5 s growing; Dedup.lshIndexFresh auto-selects and
    // rebuilds only an absent/torn master).
    q("ns_dedup_keep_best_incr", Dedup.dedupKeepBestIncrOracle(0.5)) {
      (s, dir) =>
        val (csum, cmtime) = docsFingerprint(dir)
        val master = layoutDir("kbmaster-b" + Dedup.Bands +
          "s" + Dedup.MinhashAB.size +
          "-c" + csum + "m" + cmtime + "-" + IncrDeriv, dir)
        val idx = java.nio.file.Files
          .createTempDirectory("graft-keepbest-incr")
        try {
          // zero-job stale-master identity (round 19): the source
          // parquet's (bytes, mtime) + the fixed derivation name the
          // corpus as precisely as the content scan did — the scan
          // re-tokenized the full base corpus once per rep
          Dedup.lshIndexFresh(Dedup.incrBase(T(s, dir, "documents")),
            master, idx.toString,
            corpusId = Some(s"docs:$csum:$cmtime:incrBase-$IncrDeriv"))
          Dedup.dedupBatchVsIndexKeepBestApply(
            Dedup.incrBatch(T(s, dir, "documents")), idx.toString, 0.5)
        } finally deleteRecursively(idx.toFile)
    },

    // The ingest loop maintaining the RETRIEVAL index too (round 16):
    // corpusBuildIncr's three-batch gate/exact/near-dup loop appends
    // each batch's kept docs to a persisted BM25 inverted index, then
    // the query probes the standing index — bit-equal to a full BM25
    // recompute over exactly the kept corpus (the oracle re-derives
    // the keep decisions in SQL and scores from scratch). Fresh dir
    // per run: the loop mutates all three standing tables.
    // Build-once standing state (the loop is deterministic in the
    // corpus, so the mutated tables are reusable across reps exactly
    // like ns_dedup_incremental's index — the MUTATION machinery is
    // what ns_corpus_build_incr exercises fresh every run); the final
    // manifest versions are the build-complete marker, so a crash
    // mid-loop rebuilds instead of half-probing.
    q("ns_corpus_bm25_incr", Pipeline.corpusBuildIncrBm25Oracle(0.5, 10, 3)) {
      (s, dir) =>
        val (csum, cmtime) = docsFingerprint(dir)
        val d = layoutDir("corpusbm25-b" + Dedup.Bands +
          "s" + Dedup.MinhashAB.size +
          "-bb" + Bm25Index.Buckets + "-c" + csum + "m" + cmtime, dir)
        val want = 1 + Pipeline.CorpusIncrBatches
        val done = Bm25Index.version(s, s"$d/bm25").contains(want) &&
          Dedup.lshIndexVersion(s, s"$d/lsh").contains(want)
        if (!done) {
          deleteRecursively(new java.io.File(d))
          Pipeline.corpusBuildIncr(T(s, dir, "documents"), d, 0.5,
            withBm25 = true).collect(): Unit
        }
        Bm25Index.topDocs(s, s"$d/bm25", 10, 3)
    },

    // Keep-best ingest composed with the retrieval index (round 17):
    // per batch, quality arbitration replaces worse standing docs in
    // the LSH index — and UN-INDEXES them from the BM25 index
    // (tombstone + negative df/dl corrections, one atomic commit)
    // before the winners append. The probe over the loop-built index
    // is bit-equal to a from-scratch BM25 over the post-replacement
    // kept corpus (the oracle unrolls the three keep-best steps in
    // SQL). Fresh dir per run: replacement + un-index machinery is
    // the thing under test.
    q("ns_corpus_bm25_keep_best",
      Pipeline.corpusKeepBestBm25Oracle(0.5, 10, 3)) {
      (s, dir) =>
        val (csum, cmtime) = docsFingerprint(dir)
        // build-once read-only masters of the two standing tables;
        // each rep CLONES them (measured faster than rebuilding at
        // every SF — PLANS.md round 17) into a fresh mutable dir
        val master = layoutDir("kbbm25m-b" + Dedup.Bands +
          "s" + Dedup.MinhashAB.size +
          "-bb" + Bm25Index.Buckets + "-c" + csum + "m" + cmtime +
          "-" + IncrDeriv, dir)
        val d = java.nio.file.Files
          .createTempDirectory("graft-keepbest-bm25")
        // the probe lazily reads the index — materialize (lineage cut)
        // BEFORE the temp index is deleted, like ns_dedup_incr_loop's
        // checkpointed decisions
        try Pipeline.corpusKeepBestBm25(T(s, dir, "documents"),
          d.toString, 0.5, 10, 3, Some(master),
          // zero-job stale-master identity (round 19): file
          // (bytes, mtime) + fixed derivation, instead of two
          // content-fingerprint scans of the base corpus per rep
          corpusId = Some(s"docs:$csum:$cmtime:incrLoopBase-$IncrDeriv"))
          .localCheckpoint(true)
        finally deleteRecursively(d.toFile)
    },

    // The SAME keep-best + BM25 loop ACTUALLY STREAMED (round 18): the
    // three loop batches feed a MemoryStream as three micro-batch
    // epochs through the foreachBatch cross-index transaction
    // (KeepBestStream), so the stream and the batch loop share one
    // oracle — the replace semantics are identical by construction,
    // and a crash/restart at any epoch heals exactly like a loop
    // restart (KeepBestStreamSpec's kill/restart soak).
    q("st_corpus_keep_best",
      Pipeline.corpusKeepBestBm25Oracle(0.5, 10, 3)) {
      (s, dir) =>
        val (csum, cmtime) = docsFingerprint(dir)
        val master = layoutDir("kbbm25m-b" + Dedup.Bands +
          "s" + Dedup.MinhashAB.size +
          "-bb" + Bm25Index.Buckets + "-c" + csum + "m" + cmtime +
          "-" + IncrDeriv, dir)
        val d = java.nio.file.Files
          .createTempDirectory("graft-keepbest-stream")
        try graft.streaming.KeepBestStream.runLoopFixture(
          s, T(s, dir, "documents"), d.toString, 0.5, 10, 3,
          Some(master),
          // same zero-job identity as the batch twin — the two
          // queries share one build-once master pair
          corpusId = Some(s"docs:$csum:$cmtime:incrLoopBase-$IncrDeriv"))
          .localCheckpoint(true)
        finally deleteRecursively(d.toFile)
    },

    // MinHash signatures via the typed Aggregator (map-side-combinable
    // sketch building; same constants, identical signatures).
    q("ns_minhash_signatures", Dedup.minhashSignaturesAggOracle) {
      (s, dir) => Dedup.minhashSignaturesAgg(T(s, dir, "documents"))
    },

    // Near-dup clusters: connected components over the LSH pair graph.
    q("ns_dedup_clusters", Dedup.minhashClustersOracle(0.5)) {
      (s, dir) => Dedup.minhashClusters(T(s, dir, "documents"), 0.5)
    },

    // Same clusters via large/small-star contraction: O(log n) rounds
    // regardless of component diameter (shares the recursive oracle).
    q("ns_dedup_clusters_star", Dedup.minhashClustersOracle(0.5)) {
      (s, dir) => Graph.minhashClustersStar(T(s, dir, "documents"), 0.5)
    },

    // Quality-aware representative selection: keep the HIGHEST-quality
    // member of each near-dup cluster (keep-first keeps the smallest
    // id — real pipelines keep the best doc). Per-cluster argmax on
    // the TopKPerKey partial heaps with k=1.
    q("ns_dedup_keep_best", Dedup.dedupKeepBestOracle(0.5)) {
      (s, dir) => Dedup.dedupKeepBest(T(s, dir, "documents"), 0.5)
    },

    // SimHash bucket collisions.
    q("ns_dedup_simhash", Dedup.simhashOracle) {
      (s, dir) => Dedup.simhashPairs(T(s, dir, "documents"))
    },

    // SimHash with hamming-ball (distance <= 1) multi-probe.
    q("ns_dedup_simhash_probe", Dedup.simhashProbeOracle) {
      (s, dir) => Dedup.simhashProbePairs(T(s, dir, "documents"))
    },

    // Corpus-scale SimHash: 60-bit fingerprint, Manku-style block-split
    // candidates, hamming <= 5 confirmation.
    q("ns_dedup_simhash64", Dedup.simhashWideOracle) {
      (s, dir) => Dedup.simhashWidePairs(T(s, dir, "documents"))
    },

    // Measured recall of the block-split candidates vs exact hamming
    // pairs, per distance: <=3 guaranteed by pigeonhole, 4-5 partial.
    q("ns_dedup_simhash64_recall", Dedup.simhashWideRecallOracle) {
      (s, dir) => Dedup.simhashWideRecall(T(s, dir, "documents"))
    },

    // Two-stage salted aggregation (skew mitigation; unsalted oracle).
    q("g3_salted_agg",
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS total_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) {
      (s, dir) => Advanced.twoStageAgg(T(s, dir, "lineitem"))
    },

    // Exact n-gram Jaccard over shared-shingle candidates.
    q("ns_dedup_ngram_jaccard", Dedup.ngramJaccardOracle(0.5)) {
      (s, dir) =>
        Dedup.ngramJaccard(Dedup.ngramFixture(T(s, dir, "documents")), 0.5)
    },

    // Embedding-cosine near-dup pairs.
    q("ns_embed_neardup", Similarity.embeddingNearDupOracle(0.9)) {
      (s, dir) => Similarity.embeddingNearDup(T(s, dir, "embeddings"), 0.9)
    },

    // Embedding near-dup, LSH-bucketed (the scale path: no cross join).
    q("ns_embed_neardup_lsh", Similarity.embeddingNearDupLshOracle(0.9)) {
      (s, dir) => Similarity.embeddingNearDupLsh(T(s, dir, "embeddings"), 0.9)
    },

    // Semantic dedup (SemDeDup-style): connected components over the
    // LSH-bucketed cosine near-dup graph — cluster representatives
    // for embedding-level duplicates, same propagation loop as the
    // minhash clusters.
    q("ns_embed_clusters", Similarity.embeddingClustersOracle(0.9)) {
      (s, dir) => Similarity.embeddingClusters(T(s, dir, "embeddings"), 0.9)
    },

    // Brute-force cosine top-k (exact ANN baseline).
    // Label-noise detection: per-label fixed-point centroids, then a
    // broadcast L-row margin scan — O(n·L) map-only, the linear
    // replacement for the unshippable O(n²) k-NN label vote.
    q("ns_label_noise", Similarity.labelNoiseOracle) {
      (s, dir) => Similarity.labelNoise(T(s, dir, "embeddings"))
    },

    // SQ8 scalar quantization: per-dim 8-bit codes against corpus
    // min/max, integer-dot candidate ranking, recall@k vs the exact
    // float cosine — the third standard ANN compression next to PQ
    // and sign-LSH.
    q("ns_knn_sq8_recall", Similarity.knnSq8RecallOracle(50, 3)) {
      (s, dir) => Similarity.knnSq8Recall(T(s, dir, "embeddings"), 50, 3)
    },

    q("ns_knn_bruteforce", Similarity.knnBruteForceOracle(10, 5)) {
      (s, dir) => Similarity.knnBruteForce(T(s, dir, "embeddings"), 10, 5)
    },

    // Hyperplane-LSH bucketed ANN (the scale path).
    q("ns_knn_lsh", Similarity.knnLshOracle(50, 3)) {
      (s, dir) => Similarity.knnLsh(T(s, dir, "embeddings"), 50, 3)
    },

    // Multi-probe LSH ANN: queries also probe flip-1-bit buckets.
    q("ns_knn_lsh_probe", Similarity.knnLshProbeOracle(50, 3)) {
      (s, dir) => Similarity.knnLshProbe(T(s, dir, "embeddings"), 50, 3)
    },

    // Recall@k of multi-probe LSH vs the exact brute-force ranking.
    q("ns_knn_recall", Similarity.knnLshRecallOracle(50, 3)) {
      (s, dir) => Similarity.knnLshRecall(T(s, dir, "embeddings"), 50, 3)
    },

    // Multi-table LSH ANN: L independent salted hash tables, candidate
    // union — the recall-at-scale device (multiprobe recall decays as
    // planes grow with the corpus; L tables hold P(miss)=(1-p)^L at a
    // constant L·bucket candidate budget).
    q("ns_knn_lsh_tables", Similarity.knnLshTablesOracle(50, 3, 4)) {
      (s, dir) => Similarity.knnLshTables(T(s, dir, "embeddings"), 50, 3, 4)
    },

    // Recall@k of the 4-table search vs the exact ranking.
    q("ns_knn_tables_recall", Similarity.knnLshTablesRecallOracle(50, 3, 4)) {
      (s, dir) =>
        Similarity.knnLshTablesRecall(T(s, dir, "embeddings"), 50, 3, 4)
    },

    // Recall@k of IVF (nprobe cells) vs the exact ranking.
    q("ns_knn_ivf_recall", Similarity.knnIvfRecallOracle(50, 3, 2)) {
      (s, dir) => Similarity.knnIvfRecall(T(s, dir, "embeddings"), 50, 3, 2)
    },

    // Language/topic ID by stopword-profile ratios.
    q("ns_lang_profile", Analysis.langProfileOracle) {
      (s, dir) => Analysis.langProfile(T(s, dir, "documents"))
    },

    // Document quality scoring.
    q("ns_quality_score", Analysis.qualityScoreOracle) {
      (s, dir) => Analysis.qualityScore(T(s, dir, "documents"))
    },

    // Token counting (whitespace + BPE-ish + chars/4).
    q("ns_token_stats", Analysis.tokenStatsOracle) {
      (s, dir) => Analysis.tokenStats(T(s, dir, "documents"))
    },

    // TF-IDF: top-3 scoring tokens per document.
    // Count-min-sketch heavy hitters: frequency estimation whose
    // sketch build shuffles a FIXED 4x4096 cell grid regardless of
    // corpus/vocab size (SketchSpec measures it); deterministic
    // salted-md5 buckets make Spark and DuckDB build the same sketch
    // with the same collisions, and the output quantifies the error
    // (overestimate >= 0 by the CMS one-sided guarantee).
    q("ns_heavy_hitters", Sketch.heavyHittersOracle(20)) {
      (s, dir) => Sketch.heavyHitters(T(s, dir, "documents"), 20)
    },

    // HLL distinct tokens per source: registers built from a
    // base/delta split and merged by MAX — the mergeable form of
    // COUNT DISTINCT (the one profile statistic ns_incr_agg can't
    // keep exactly); harmonic sum is exact integer arithmetic, and
    // the output quantifies its own error against the exact count.
    q("ns_hll_distinct", Sketch.hllDistinctOracle) {
      (s, dir) => Sketch.hllDistinct(T(s, dir, "documents"))
    },

    q("ns_tfidf", Analysis.tfidfTop3Oracle) {
      (s, dir) => Analysis.tfidfTop3(T(s, dir, "documents"))
    },

    // Okapi BM25 top-k docs per high-df query term — the retrieval
    // scorer behind similarity-based curation and retrieval-style
    // decontamination. Term cut is TakeOrderedAndProject; the per-
    // term top-k rides the TopKPerKey physical operator (bounded
    // partial heaps), never a corpus-sized window partition.
    q("ns_bm25", Analysis.bm25TopDocsOracle(20, 3)) {
      (s, dir) => Analysis.bm25TopDocs(T(s, dir, "documents"), 20, 3)
    },

    // Multi-term BM25 query scoring: summed per-term BM25 per doc,
    // top-k docs per query — the retrieval-style decontamination
    // shape (single-term scoring is ns_bm25).
    q("ns_bm25_query", Analysis.bm25QueryOracle(5, 3, 3)) {
      (s, dir) => Analysis.bm25Query(T(s, dir, "documents"), 5, 3, 3)
    },

    // BM25 served from the PERSISTED inverted index (round 16): df/dl
    // partials appended per ingest batch merge additively, idf/avgdl
    // derived at query time; the probe reads the vocab-sized df
    // partition plus only the postings buckets the query terms hash
    // to — O(batch) maintenance + O(terms) probes instead of ns_bm25's
    // full corpus re-tokenize per call. Bit-equal to the recompute
    // (same oracle).
    q("ns_bm25_index", Analysis.bm25TopDocsOracle(20, 3)) {
      (s, dir) => Bm25Index.topDocs(s, bm25IndexDir(s, dir), 20, 3)
    },

    // Multi-term query scoring against the same persisted index.
    q("ns_bm25_index_query", Analysis.bm25QueryOracle(5, 3, 3)) {
      (s, dir) => Bm25Index.query(s, bm25IndexDir(s, dir), 5, 3, 3)
    },

    // Deterministic hash sampling (reproducible 10% sample, no rand).
    q("p_sample_hash",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${graft.ops.H.duckHash60("text")} % 10 = 0
         |ORDER BY doc_id""".stripMargin) {
      (s, dir) => T(s, dir, "documents")
        .filter(H.hash60(col("text")) % 10 === 0)
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // Signup -> purchase conversion funnel per user.
    q("ev_funnel",
      """WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |           WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT user_id, ts AS p_ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT s.user_id,
        |  strftime(s.signup_ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts,
        |  strftime(min(CASE WHEN p.p_ts >= s.signup_ts THEN p.p_ts END),
        |           '%Y-%m-%d %H:%M:%S.%f') AS first_purchase_ts,
        |  min(CASE WHEN p.p_ts >= s.signup_ts THEN p.p_ts END) IS NOT NULL
        |    AS converted
        |FROM s LEFT JOIN p ON s.user_id = p.user_id
        |GROUP BY s.user_id, s.signup_ts
        |ORDER BY s.user_id""".stripMargin) {
      (s, dir) => Events.signupPurchaseFunnel(T(s, dir, "events"))
    },

    // PMI co-occurrence over in-document token pairs.
    q("ns_pmi_pairs", Analysis.pmiPairsOracle(50)) {
      (s, dir) => Analysis.pmiPairs(T(s, dir, "documents"), 50)
    },

    // Rolling-hash document fingerprint.
    q("ns_fingerprint", Analysis.fingerprintOracle) {
      (s, dir) => Analysis.fingerprint(T(s, dir, "documents"))
    },

    // Multimodal: binary payload + typed metadata projection.
    // Real file ingest: every 50th doc written as an individual .bin
    // asset (executor-side), read back through the built-in
    // binaryFile source; size + md5 must match the table the bytes
    // came from — the write -> file -> ingest loop is byte-faithful.
    q("ns_media_ingest", Multimodal.ingestOracle) {
      (s, dir) =>
        val mdir = layoutDir("media-files", dir)
        // guard on the EXACT payload-file count, not just the marker
        // or "at least one .bin" (round-13 advisor): a half-cleaned
        // scratch dir where a strict subset of .bin files survives
        // alongside _SUCCESS must re-stage, or the ingest silently
        // returns fewer assets than the corpus defines
        val expected = T(s, dir, "documents")
          .filter(col("doc_id") % 50 === 0).count()
        val staged = { val d = new java.io.File(mdir)
          new java.io.File(d, "_SUCCESS").exists() &&
            Option(d.list()).map(_.count(_.endsWith(".bin")).toLong)
              .contains(expected) }
        if (!staged)
          Multimodal.writeMediaFiles(T(s, dir, "documents"), mdir)
        Multimodal.ingestBinaryFiles(s, mdir)
    },

    q("ns_media_meta",
      """SELECT doc_id, octet_length(text::BLOB) AS byte_len,
        |  (16 + doc_id % 64)::INT AS width,
        |  (16 + doc_id % 48)::INT AS height,
        |  substr(sha256(text), 1, 8) AS sha_prefix,
        |  source AS media_source
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) => Multimodal.mediaMeta(T(s, dir, "documents"))
    },

    // Multimodal: strided frame sampling from payloads.
    q("ns_media_frames",
      """SELECT doc_id, t.i AS frame_idx,
        |  substr(text, (t.i*64 + 1)::INT, 16) AS frame
        |FROM documents,
        |  unnest(range(0, ((length(text) - 16) // 64) + 1)) AS t(i)
        |WHERE length(text) >= 16
        |ORDER BY doc_id, frame_idx""".stripMargin) {
      (s, dir) => Multimodal.frameSample(T(s, dir, "documents"))
    },

    // Multimodal: nearest-neighbor resize stub (fixed-width subsample).
    q("ns_media_resize", Multimodal.resizeOracle(32)) {
      (s, dir) => Multimodal.resize(T(s, dir, "documents"), 32)
    },

    // Multimodal: batched mapPartitions decode (stubbed codec), whose
    // deterministic feature is still differential-tested.
    q("ns_media_decode",
      """SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
        |  round(list_sum(list_transform(range(1, length(text) + 1),
        |      i -> ord(substr(text, i, 1))::DOUBLE)) / length(text), 6)
        |    AS feat_mean
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) => Multimodal.decodeFeaturesQuery(s, T(s, dir, "documents"))
    },

    // Multimodal -> ANN loop: binary payloads through the batched
    // embedding stub, then IVF top-k over the derived vectors. This
    // inline form derives embeddings and retrains the quantizer per
    // run — it is the training-cost measurement; the indexed variant
    // below is the serving shape. The derived vectors are cut ONCE
    // (round-11 verdict #2): knnIvf reads its input five times (size
    // ladder, stride seeds, training sample, assignment, probes), and
    // without the cut each read re-ran the byte-level decode over
    // every payload — 5x the decode cost to measure 1x the search
    // (18 s -> ~7 s at mult=100).
    q("ns_media_knn",
      Similarity.knnIvfOracleFrom(Multimodal.mediaEmbeddingCte, 50, 3, 2)) {
      (s, dir) => Similarity.knnIvf(
        Multimodal.mediaEmbeddingsCut(s, T(s, dir, "documents")), 50, 3, 2)
    },

    // The media serving shape: derived (non-table) embeddings pay
    // ivfBuild ONCE into a persisted index, probes run against it with
    // dynamic-partition-pruned cell reads — ranking-identical to
    // ns_media_knn, so the same derived-vector oracle covers both.
    q("ns_media_knn_indexed",
      Similarity.knnIvfOracleFrom(Multimodal.mediaEmbeddingCte, 50, 3, 2)) {
      (s, dir) =>
        val emb = Multimodal.mediaEmbeddings(s, T(s, dir, "documents"))
        val idx = ivfIndexDir("media", dir)
        if (!new java.io.File(s"$idx/cells/_SUCCESS").exists())
          Similarity.ivfBuild(emb, idx)
        Similarity.ivfQuery(emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("embedding")), idx, 3, 2)
    },

    // Benchmark-contamination check: train/eval shared-shingle join
    // with the df-cap bounding boilerplate fan-out.
    q("ns_contamination", Pipeline.contaminationOracle()) {
      (s, dir) => Pipeline.contamination(T(s, dir, "documents"))
    },

    // Contamination as a broadcast 4 KB Bloom filter: map-only probe
    // of the train side, deterministic (oracle-identical) false
    // positives quantified against the exact join's verdict.
    q("ns_contamination_bloom", Pipeline.contaminationBloomOracle()) {
      (s, dir) => Pipeline.contaminationBloom(T(s, dir, "documents"))
    },

    // Sequence packing into 256-token bins, per source shard.
    q("ns_seq_pack", Pipeline.seqPackOracle(256)) {
      (s, dir) => Pipeline.seqPack(T(s, dir, "documents"), 256)
    },

    // Cross-corpus dedup: incoming batch vs reference corpus via
    // MinHash band collisions (incoming x reference, not self-join).
    q("ns_dedup_cross", Pipeline.crossDedupOracle(0.5)) {
      (s, dir) => Pipeline.crossDedup(T(s, dir, "documents"), 0.5)
    },

    // Materialized-view maintenance: base partials merged with a
    // delta batch's partials (all statistics kept mergeable); the
    // oracle recomputes directly over the full table, so the hash
    // match proves merge(base, delta) = recompute(all).
    q("ns_incr_agg", Pipeline.incrementalAggOracle) {
      (s, dir) => Pipeline.incrementalAgg(T(s, dir, "documents"))
    },

    // Snapshot diff: v1 vs a deterministically-derived v2, one
    // full-outer join on fixed-width content hashes — the 100 TB
    // version-audit shape (shuffle carries 16-byte rows, not text).
    q("ns_snapshot_diff", Pipeline.snapshotDiffOracle) {
      (s, dir) => Pipeline.snapshotDiff(T(s, dir, "documents"))
    },

    // Deterministic per-source (domain-mix) sampling summary.
    q("ns_source_sample", Pipeline.sourceSampleOracle) {
      (s, dir) => Pipeline.sourceSample(T(s, dir, "documents"))
    },

    // Token-budget domain mixing: per-source token budgets, docs
    // hash-ranked within source, source cut at the budget via the
    // two-stage range-partitioned prefix sum (no per-source window
    // funnel).
    q("ns_token_budget_mix", Pipeline.tokenBudgetMixOracle()) {
      (s, dir) => Pipeline.tokenBudgetMix(T(s, dir, "documents"))
    },

    // Deterministic stratified train/val/test split (90/5/5 by salted
    // doc hash), reported per (source, split) — map-side-combined, no
    // doc-level shuffle.
    q("ns_split_assign", Pipeline.splitAssignOracle) {
      (s, dir) => Pipeline.splitAssign(T(s, dir, "documents"))
    },

    // Domain-mix plan toward uniform source shares: single-epoch-
    // capped rates from exact integer token masses.
    q("ns_domain_mix", Pipeline.domainMixOracle) {
      (s, dir) => Pipeline.domainMix(T(s, dir, "documents"))
    },

    // Z-order clustered layout: cluster lineitem along the Morton
    // curve of (l_partkey, l_suppkey) once per sfDir, then answer a
    // 2-d rectangle query from the clustered copy. Results are
    // layout-independent (oracle runs on the raw table, Z-key
    // recomputed by the identical shift/mask ladder); what the layout
    // buys is footer-stat pruning on BOTH dimensions — ZOrderSpec
    // measures rows-read clustered vs linear for this exact query.
    q("ns_zorder_rect", ops.Layout.zorderRectOracle(100, 300, 10, 40)) {
      (s, dir) =>
        val lay = layoutDir("zorder-li", dir)
        if (!new java.io.File(s"$lay/_SUCCESS").exists())
          ops.Layout.zorderWrite(
            T(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
              "l_partkey", "l_suppkey"),
            "l_partkey", "l_suppkey", lay)
        // plan the file list from the layout's manifest: one metadata
        // read replaces #files footer opens before the scan starts
        ops.Layout.zorderRectManifest(s, lay, 100, 300, 10, 40)
    },

    // 3-d Morton clustering: lineitem clustered along the curve of
    // (partkey, suppkey, orderkey>>4), answering a 3-d box query with
    // manifest pruning on ALL THREE dimensions — LayoutSpec measures
    // that the 3-d layout out-prunes both the 1-d sort and the 2-d
    // curve on this exact query. The key is the generic per-bit
    // interleave, textually mirrored in the oracle.
    q("ns_zcurve3_rect",
      ops.Layout.zcurve3RectOracle(100, 300, 10, 40, 5000, 25000)) {
      (s, dir) =>
        val lay = layoutDir("zcurve3-li", dir)
        if (!new java.io.File(s"$lay/_SUCCESS").exists())
          ops.Layout.zcurve3Write(
            T(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
              "l_partkey", "l_suppkey"), lay)
        ops.Layout.zcurve3RectManifest(s, lay, 100, 300, 10, 40,
          5000, 25000)
    },

    // Hilbert-curve clustering option: same one-time range shuffle as
    // Morton, no seam discontinuities — the curve key is a codegen'd
    // custom Expression (the rotate/reflect fold cannot be a bounded
    // Column tree) and stays OUT of the stored schema, so the oracle
    // is the plain raw-table rectangle.
    q("ns_hilbert_rect", ops.Layout.hilbertRectOracle(100, 300, 10, 40)) {
      (s, dir) =>
        val lay = layoutDir("hilbert-li", dir)
        if (!new java.io.File(s"$lay/_SUCCESS").exists())
          ops.Layout.hilbertWrite(
            T(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
              "l_partkey", "l_suppkey"),
            "l_partkey", "l_suppkey", lay)
        ops.Layout.hilbertRect(s, lay, 100, 300, 10, 40)
    },

    // Small-file compaction: the shard-written documents tree (many
    // small files per source partition) merged with coalesce — no
    // shuffle, rows never cross the network — then content-
    // fingerprinted per source; the oracle computes the same
    // fingerprint from the raw table, so a lost/duplicated/corrupted
    // row anywhere in shard-write or compaction breaks the hash.
    q("ns_compact_parity", ops.Layout.contentFingerprintOracle()) {
      (s, dir) =>
        val comp = layoutDir("compact-docs", dir)
        if (!new java.io.File(s"$comp/_SUCCESS").exists()) {
          val shards = layoutDir("shards-docs", dir)
          if (!new java.io.File(s"$shards/_SUCCESS").exists())
            Pipeline.writeShards(T(s, dir, "documents"), shards, 50)
          ops.Layout.compactShards(s, shards, comp,
            statCols = Seq("doc_id"))
        }
        ops.Layout.contentFingerprint(ops.Manifest.readTable(s, comp))
    },

    // IN-PLACE compaction (OPTIMIZE): the small-file shard tree's
    // files are merged and renamed in beside the originals, and the
    // manifest swap retires the small files — same coalesce merge as
    // ns_compact_parity but against the SAME table, composing with
    // time travel and vacuum. Fingerprint parity with the raw table
    // proves the swap is byte-lossless.
    q("ns_compact_inplace", ops.Layout.contentFingerprintOracle()) {
      (s, dir) =>
        val tree = layoutDir("shards-docs-ip", dir)
        if (!new java.io.File(s"$tree/_SUCCESS").exists())
          Pipeline.writeShards(T(s, dir, "documents"), tree, 50)
        if (ops.Manifest.currentVersion(s, tree).forall(_ < 2))
          ops.Layout.compactInPlace(s, tree, statCols = Seq("doc_id"))
        ops.Layout.contentFingerprint(ops.Manifest.readTable(s, tree))
    },

    // Copy-on-write delete: a doc_id-range delete against a
    // doc_id-clustered copy rewrites only the files whose footer
    // range intersects the predicate (DeleteSpec measures the
    // affected-file count); survivors are content-fingerprinted and
    // must match the raw table minus the deleted range exactly.
    q("ns_delete_rewrite",
      ops.Layout.contentFingerprintOracle(
        "NOT (doc_id BETWEEN 100 AND 140)")) {
      (s, dir) =>
        val out = layoutDir("cow-delete", dir)
        if (!new java.io.File(s"$out/_SUCCESS").exists()) {
          val src = layoutDir("docs-byid", dir)
          if (!new java.io.File(s"$src/_SUCCESS").exists())
            T(s, dir, "documents")
              .repartitionByRange(16, col("doc_id"))
              .sortWithinPartitions("doc_id")
              .write.mode("overwrite").parquet(src)
          ops.Layout.deleteRewrite(s, src, out,
            col("doc_id").between(100, 140), statCols = Seq("doc_id"))
        }
        ops.Layout.contentFingerprint(ops.Manifest.readTable(s, out))
    },

    // IN-PLACE copy-on-write delete: survivors land in a versioned
    // delta subdir and the commit is a manifest swap — untouched files
    // are never copied or opened (the 100 TB delete shape; the carried
    // copies of ns_delete_rewrite exist only for the export-to-new-dir
    // form). The v2 snapshot is the post-delete table.
    q("ns_delete_inplace",
      ops.Layout.contentFingerprintOracle(
        "NOT (doc_id BETWEEN 200 AND 260)")) {
      (s, dir) =>
        val src = inPlaceDeleteDir(s, dir)
        ops.Layout.contentFingerprint(ops.Manifest.readTable(s, src))
    },

    // MERGE-ON-READ delete via deletion vectors: matching rows are
    // MARKED ((file, row position) pairs in the manifest) and readers
    // subtract them with a broadcast anti-join — no data file is
    // written, so a targeted 100 TB delete commits in O(matches)
    // metadata. The oracle is the same fingerprint minus the range:
    // proof the read-path subtraction is exact.
    q("ns_delete_dv",
      ops.Layout.contentFingerprintOracle(
        "NOT (doc_id BETWEEN 300 AND 340)")) {
      (s, dir) =>
        val src = layoutDir("docs-byid-dv", dir)
        if (!new java.io.File(s"$src/_SUCCESS").exists())
          T(s, dir, "documents")
            .repartitionByRange(16, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(src)
        if (ops.Manifest.currentVersion(s, src).forall(_ < 2))
          ops.Layout.deleteMergeOnRead(s, src,
            col("doc_id").between(300, 340), statCols = Seq("doc_id"))
        ops.Layout.contentFingerprint(ops.Manifest.readTable(s, src))
    },

    // IN-PLACE upsert (MERGE INTO by key, last-writer-wins): updated
    // keys replace their rows, new keys insert — affected files found
    // manifest-pruned (stats planning the WRITE), survivors drop
    // updated keys via broadcast anti-join, the batch lands as delta
    // files. Cost O(affected + batch), independent of table size.
    q("ns_upsert", ops.Layout.upsertOracle()) {
      (s, dir) =>
        val src = layoutDir("docs-byid-up", dir)
        if (!new java.io.File(s"$src/_SUCCESS").exists())
          T(s, dir, "documents")
            .repartitionByRange(16, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(src)
        if (ops.Manifest.currentVersion(s, src).forall(_ < 2)) {
          val docs = T(s, dir, "documents")
          val updates = docs.filter(col("doc_id") % 97 === 0)
            .withColumn("text", concat(lit("u:"), col("text")))
            .unionByName(docs.filter(col("doc_id") % 193 === 0)
              .withColumn("doc_id", col("doc_id") + 500000L)
              .withColumn("text", concat(lit("n:"), col("text"))))
          ops.Layout.upsertInPlace(s, src, updates, "doc_id",
            statCols = Seq("doc_id"))
        }
        ops.Layout.contentFingerprint(ops.Manifest.readTable(s, src))
    },

    // Time travel: version 1 of the SAME directory still reads as the
    // full pre-delete table — in-place commits only add files and flip
    // the CURRENT pointer, so history stays byte-readable until a
    // vacuum reclaims it. The oracle is the unfiltered table.
    q("ns_time_travel", ops.Layout.contentFingerprintOracle()) {
      (s, dir) =>
        val src = inPlaceDeleteDir(s, dir)
        ops.Layout.contentFingerprint(
          ops.Manifest.readTable(s, src, version = Some(1)))
    },

    // ADD-COLUMN schema evolution: an appended batch carrying a brand-
    // new column evolves the table — the manifest records the schema
    // per version, new files carry the column, and every pre-evolution
    // file NULL-backfills it at read (Delta/Iceberg add-column, over
    // the same snapshot mechanism). The fingerprint folds the new
    // column in, so a wrong backfill or a silently dropped column
    // breaks the hash.
    q("ns_schema_evolve",
      s"""WITH merged AS (
         |  SELECT doc_id, source, text, NULL AS rev_tag FROM documents
         |  UNION ALL
         |  SELECT doc_id + 700000, source, text, 'e1' AS rev_tag
         |  FROM documents WHERE doc_id % 101 = 0)
         |SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30(
               "doc_id || '|' || text || '|' || coalesce(rev_tag, '-')")}
         |  )::BIGINT AS content_fp
         |FROM merged GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val src = layoutDir("docs-byid-ev", dir)
        if (!new java.io.File(s"$src/_SUCCESS").exists())
          T(s, dir, "documents")
            .repartitionByRange(16, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(src)
        if (ops.Manifest.currentVersion(s, src).forall(_ < 2))
          ops.Layout.appendInPlace(s, src,
            T(s, dir, "documents").filter(col("doc_id") % 101 === 0)
              .withColumn("doc_id", col("doc_id") + 700000L)
              .withColumn("rev_tag", lit("e1")),
            statCols = Seq("doc_id"))
        ops.Manifest.readTable(s, src)
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"),
              coalesce(col("rev_tag"), lit("-"))))).as("content_fp"))
          .orderBy("source")
    },

    // RENAME COLUMN — metadata-only, Delta-column-mapping style: the
    // column keeps its original PHYSICAL name in every file; the
    // recorded schema carries the logical name plus the mapping. The
    // fixture renames text→body, then APPENDS under the new name (the
    // batch stages under the physical name), so the fingerprint
    // breaks if either the read projection or the write mapping is
    // wrong. Time travel to v1 still sees `text` (EvolutionSpec).
    q("ns_schema_rename",
      s"""WITH t AS (
         |  SELECT doc_id, source, text AS body FROM documents
         |  UNION ALL
         |  SELECT doc_id + 900000, source, 'r:' || text AS body
         |  FROM documents WHERE doc_id % 89 = 0)
         |SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || body")}
         |  )::BIGINT AS content_fp
         |FROM t GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val src = layoutDir("docs-byid-ren", dir)
        if (!new java.io.File(s"$src/_SUCCESS").exists())
          T(s, dir, "documents")
            .repartitionByRange(16, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(src)
        if (ops.Manifest.currentVersion(s, src).forall(_ < 2))
          ops.Layout.renameColumn(s, src, "text", "body",
            statCols = Seq("doc_id"))
        if (ops.Manifest.currentVersion(s, src).forall(_ < 3))
          ops.Layout.appendInPlace(s, src,
            T(s, dir, "documents").filter(col("doc_id") % 89 === 0)
              .withColumn("doc_id", col("doc_id") + 900000L)
              .withColumn("text", concat(lit("r:"), col("text")))
              .withColumnRenamed("text", "body"),
            statCols = Seq("doc_id"))
        ops.Manifest.readTable(s, src)
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("body"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // WIDEN COLUMN TYPE — metadata-only INT→BIGINT: the fixture
    // materializes doc_id as INT32, widens to BIGINT, then appends ids
    // beyond 2^31 — values an un-widened table could not hold. Old
    // files upcast at read (the vectorized reader's type widening);
    // new files stage wide. ANSI mode makes a silent wrap impossible:
    // a wrong path throws rather than corrupts.
    q("ns_schema_widen",
      s"""WITH t AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000000, source, text
         |  FROM documents WHERE doc_id % 113 = 0)
         |SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(doc_id)::BIGINT AS id_sum,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM t GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val src = layoutDir("docs-widen", dir)
        if (!new java.io.File(s"$src/_SUCCESS").exists())
          T(s, dir, "documents")
            .select(col("doc_id").cast("int").as("doc_id"),
              col("source"), col("text"))
            .repartitionByRange(16, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(src)
        if (ops.Manifest.currentVersion(s, src).forall(_ < 2))
          ops.Layout.widenColumn(s, src, "doc_id",
            org.apache.spark.sql.types.LongType,
            statCols = Seq("doc_id"))
        if (ops.Manifest.currentVersion(s, src).forall(_ < 3))
          ops.Layout.appendInPlace(s, src,
            T(s, dir, "documents").filter(col("doc_id") % 113 === 0)
              .select((col("doc_id") + 3000000000L).as("doc_id"),
                col("source"), col("text")),
            statCols = Seq("doc_id"))
        ops.Manifest.readTable(s, src)
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // CHANGE DATA FEED: every logical row change between two versions
    // as _change_type-tagged rows, with maintenance restatement
    // cancelled multiset-wise — a delete + upsert + append sequence
    // emits exactly its deletes (old images included) and inserts
    // (new images included), NOT the terabytes of rewritten survivors.
    // The oracle derives the same feed symbolically (v4 EXCEPT ALL v1
    // both ways), so the file-diff + DV-diff algebra is hash-checked
    // end to end.
    q("ns_cdf",
      s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
         |v4 AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 97 = 0 THEN 'u:' || text ELSE text END AS text
         |  FROM documents
         |  WHERE NOT (doc_id BETWEEN 100 AND 140) OR doc_id % 97 = 0
         |  UNION ALL
         |  SELECT doc_id + 800000, source, 'n:' || text FROM documents
         |  WHERE doc_id % 193 = 0),
         |chg AS (
         |  SELECT 'insert' AS change_type, *
         |  FROM (SELECT * FROM v4 EXCEPT ALL SELECT * FROM v1)
         |  UNION ALL
         |  SELECT 'delete' AS change_type, *
         |  FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v4))
         |SELECT change_type, count(*) AS n_rows,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM chg GROUP BY change_type ORDER BY change_type""".stripMargin) {
      (s, dir) =>
        val src = cdfFixtureDir(s, dir)
        ops.Manifest.readCdc(s, src, 1, 4)
          .groupBy(col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("change_type")
    },

    // PER-VERSION change feed (Delta's table_changes): every commit's
    // logical changes read from its COMMIT-TIME record (`cdc-v{K}` —
    // written by the verb that already held the rows) or, for
    // append-only commits, the added files — pure file reads, no
    // content diffing, which is what a streaming CDC consumer needs at
    // scale. Unlike ns_cdf's net endpoint diff, the upsert's
    // reinserted keys show per commit: delete at v3 only where the
    // old image survived v2, insert at v3 for the whole batch.
    q("ns_change_feed",
      s"""WITH chg AS (
         |  SELECT 2 AS commit_version, 'delete' AS change_type,
         |    doc_id, text FROM documents WHERE doc_id BETWEEN 100 AND 140
         |  UNION ALL
         |  SELECT 3, 'delete', doc_id, text FROM documents
         |  WHERE doc_id % 97 = 0 AND NOT (doc_id BETWEEN 100 AND 140)
         |  UNION ALL
         |  SELECT 3, 'insert', doc_id, 'u:' || text FROM documents
         |  WHERE doc_id % 97 = 0
         |  UNION ALL
         |  SELECT 4, 'insert', doc_id + 800000, 'n:' || text
         |  FROM documents WHERE doc_id % 193 = 0)
         |SELECT commit_version::BIGINT AS commit_version, change_type,
         |  count(*) AS n_rows,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM chg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (s, dir) =>
        val src = cdfFixtureDir(s, dir)
        ops.Manifest.readChangeFeed(s, src, 1, 4)
          .groupBy(col("_commit_version").as("commit_version"),
            col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("commit_version", "change_type")
    },

    // STREAMED manifest-table consumption: the DSv2 source whose
    // offsets are manifest versions replays a three-commit table
    // (initial write + two appends) through a genuine Structured
    // Streaming query (AvailableNow, memory sink) — the oracle is the
    // whole documents table, so a dropped or double-delivered version
    // window breaks the fingerprint. Completes the exactly-once loop
    // whose ingestion half is ManifestSink (st_* family device:
    // batch-equivalence through a real stream).
    q("ns_manifest_source", ops.Layout.contentFingerprintOracle()) {
      (s, dir) =>
        val src = layoutDir("docs-mfsrc", dir)
        val docs = T(s, dir, "documents")
        if (ops.Manifest.currentVersion(s, src).isEmpty) {
          docs.filter(col("doc_id") % 3 === 0)
            .repartition(4).write.mode("overwrite").parquet(src)
          ops.Manifest.create(s, src, Seq("doc_id"))
        }
        if (ops.Manifest.currentVersion(s, src).forall(_ < 2))
          ops.Layout.appendInPlace(s, src,
            docs.filter(col("doc_id") % 3 === 1), Seq("doc_id"))
        if (ops.Manifest.currentVersion(s, src).forall(_ < 3))
          ops.Layout.appendInPlace(s, src,
            docs.filter(col("doc_id") % 3 === 2), Seq("doc_id"))
        val sink = "ns_manifest_source_sink"
        val query = s.readStream.format("graft.sources.ManifestSource")
          .option("path", src).load()
          .writeStream.format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", layoutDir("docs-mfsrc-ck", dir) +
            s"/${java.util.UUID.randomUUID()}")
          .start()
        query.awaitTermination()
        ops.Layout.contentFingerprint(s.table(sink))
    },

    // STREAMING CDC REPLICATION capstone: a replica seeded from the
    // origin's v1 follows the change feed through a real Structured
    // Streaming query (CdcReplicator: net-per-key batch apply with the
    // keyed verbs) across a delete + upsert + append history. The
    // oracle is the origin's symbolic final state — the replica must
    // converge to it hash-exactly, proving feed contents, ordering,
    // and keyed application end to end. Idempotent across reps: the
    // checkpoint remembers the drained windows.
    q("ns_cdc_replica",
      s"""WITH v4 AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 97 = 0 THEN 'u:' || text ELSE text END AS text
         |  FROM documents
         |  WHERE NOT (doc_id BETWEEN 100 AND 140) OR doc_id % 97 = 0
         |  UNION ALL
         |  SELECT doc_id + 800000, source, 'n:' || text FROM documents
         |  WHERE doc_id % 193 = 0)
         |SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM v4 GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val origin = cdfFixtureDir(s, dir)
        val replica = layoutDir("docs-cdf-replica", dir)
        if (ops.Manifest.currentVersion(s, replica).isEmpty) {
          ops.Manifest.readTable(s, origin, version = Some(1))
            .repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(replica)
          ops.Manifest.create(s, replica, Seq("doc_id"))
        }
        val q = graft.streaming.CdcReplicator.start(s, origin, replica,
          "doc_id", layoutDir("docs-cdf-replica-ck", dir),
          startingVersion = 1, statCols = Seq("doc_id"))
        q.processAllAvailable()
        q.stop()
        ops.Manifest.readTable(s, replica)
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // Incremental MATERIALIZED-VIEW maintenance over the change feed —
    // the workload CDC exists for: a per-source aggregate (count +
    // content fingerprint) is maintained from its v1 state by folding
    // ONLY the feed's deltas (insert = +row, delete = -row), never
    // rescanning the table. O(changes) per refresh at any table size.
    // The oracle aggregates the symbolic final state directly, so a
    // single missed/doubled/restated change row breaks the hash.
    q("ns_cdf_incr",
      s"""WITH v4 AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 97 = 0 THEN 'u:' || text ELSE text END AS text
         |  FROM documents
         |  WHERE NOT (doc_id BETWEEN 100 AND 140) OR doc_id % 97 = 0
         |  UNION ALL
         |  SELECT doc_id + 800000, source, 'n:' || text FROM documents
         |  WHERE doc_id % 193 = 0)
         |SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM v4 GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val src = cdfFixtureDir(s, dir)
        val h = ops.H.hash30(concat_ws("|", col("doc_id"), col("text")))
        val base = ops.Manifest.readTable(s, src, version = Some(1))
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n0"), sum(h).as("fp0"))
        val sign = when(col("_change_type") === "insert", lit(1L))
          .otherwise(lit(-1L))
        val deltas = ops.Manifest.readChangeFeed(s, src, 1, 4)
          .groupBy(col("source").cast("string").as("source"))
          .agg(sum(sign).as("dn"), sum(sign * h).as("dfp"))
        base.join(deltas, Seq("source"), "full_outer")
          .select(col("source"),
            (coalesce(col("n0"), lit(0L)) +
              coalesce(col("dn"), lit(0L))).as("n_docs"),
            (coalesce(col("fp0"), lit(0L)) +
              coalesce(col("dfp"), lit(0L))).as("content_fp"))
          .filter(col("n_docs") > 0)
          .orderBy("source")
    },

    // STRING stat ranges in the manifest: a source-clustered layout
    // prunes files on a lexicographic BETWEEN before any file opens —
    // URL/domain/date-string predicates get the same one-metadata-read
    // planning as numeric rectangles (ManifestSpec asserts the pruned
    // read opens strictly fewer files).
    q("ns_prune_string",
      ops.Layout.contentFingerprintOracle(
        "source::VARCHAR BETWEEN 'src12' AND 'src16'")) {
      (s, dir) =>
        val src = layoutDir("docs-bysrc-str", dir)
        if (!new java.io.File(s"$src/_SUCCESS").exists())
          T(s, dir, "documents")
            .repartitionByRange(8, col("source"), col("doc_id"))
            .sortWithinPartitions("source", "doc_id")
            .write.mode("overwrite").parquet(src)
        ops.Manifest.ensure(s, src, Seq("doc_id", "source"))
        ops.Layout.contentFingerprint(
          ops.Manifest.readPruned(s, src, Nil,
              strRanges = Seq(("source", "src12", "src16")))
            .filter(col("source").between("src12", "src16")))
    },

    // Temperature-scaled (share^alpha) domain mixing — the standard
    // multilingual upweighting of small sources, single-epoch-capped;
    // integer-quantized shares keep the normalization exact.
    q("ns_domain_mix_alpha", Pipeline.domainMixAlphaOracle(0.3)) {
      (s, dir) => Pipeline.domainMixAlpha(T(s, dir, "documents"), 0.3)
    },

    // Sub-document (chunk-level) dedup: fixed-token chunks hashed,
    // first occurrence wins, dup chunks counted per doc.
    q("ns_chunk_dedup", Dedup.chunkDedupOracle(32)) {
      (s, dir) => Dedup.chunkDedup(T(s, dir, "documents"), 32)
    },

    // Arbitrary-offset duplicated spans (suffix-array-style matching):
    // every 16-token sliding window hashed; catches the shifted
    // variants that fixed chunks miss.
    q("ns_span_dedup", Dedup.spanDedupOracle(16)) {
      (s, dir) => Dedup.spanDedup(T(s, dir, "documents"), 16)
    },

    // Per-source corpus profile: counts + token-length quantiles.
    q("ns_corpus_stats", Analysis.corpusStatsOracle) {
      (s, dir) => Analysis.corpusStats(T(s, dir, "documents"))
    },

    // Bigram LM score: smoothed conditional log-likelihood per doc —
    // the perplexity-proxy quality signal (corpus as its own LM).
    q("ns_lm_score", Analysis.lmScoreOracle) {
      (s, dir) => Analysis.lmScore(T(s, dir, "documents"))
    },

    // Gopher-style rule gate: the canonical pre-LM quality heuristics
    // as per-rule booleans + the conjunction, one map pass.
    q("ns_gopher_filter", Analysis.gopherFilterOracle) {
      (s, dir) => Analysis.gopherFilter(T(s, dir, "documents"))
    },

    // Per-key skew diagnostic: heavy-hitter shares + the integer salt
    // factor that re-balances each (consumed by the salted join/agg).
    q("ns_skew_report", Analysis.skewReportOracle("user_id", 5)) {
      (s, dir) => Analysis.skewReport(T(s, dir, "events"), "user_id", 5)
    },

    // Zipf slope over the top-1000 vocabulary (corpus-health check).
    q("ns_zipf_fit", Analysis.zipfFitOracle(1000)) {
      (s, dir) => Analysis.zipfFit(T(s, dir, "documents"), 1000)
    },

    // Capstone: the full corpus build — quality gate -> exact dedup ->
    // near-dup keep-first, one summary row of per-stage survivors.
    q("ns_corpus_build", Pipeline.corpusBuildOracle(0.5)) {
      (s, dir) => Pipeline.corpusBuild(T(s, dir, "documents"), 0.5)
    },

    // The same composition run INCREMENTALLY (round 16): three ingest
    // batches against standing manifest-managed state (content-hash
    // set + LSH index), per-stage survivor counts per batch. Fresh
    // dir per run (the loop mutates its state), deleted on return —
    // the per-batch audit rows are driver-held counts, so nothing in
    // the returned frame reads the deleted state.
    q("ns_corpus_build_incr", Pipeline.corpusBuildIncrOracle(0.5)) {
      (s, dir) =>
        val st = java.nio.file.Files
          .createTempDirectory("graft-corpus-incr")
        try Pipeline.corpusBuildIncr(T(s, dir, "documents"), st.toString, 0.5)
        finally deleteRecursively(st.toFile)
    },

    // Streaming (batch form): 30-minute-gap session windows per user.
    q("st_session_window",
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM e)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) {
      (s, dir) => Events.userSessions(T(s, dir, "events"))
        .select(col("user_id"), tsStr(col("session_start")).as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // J4: range join — orders binned into irregular price bands.
    q("j4_range_join", Advanced.rangeJoinOracle) {
      (s, dir) => Advanced.rangeJoinPriceBands(T(s, dir, "orders"))
    },

    // J4: interval-OVERLAP join (range-range).
    q("j4_overlap_join", Advanced.overlapJoinOracle) {
      (s, dir) => Advanced.overlapJoinPromos(T(s, dir, "orders"))
    },

    // SQL PIVOT syntax (the SQL twin of the DataFrame pivot).
    q("sql_pivot",
      """SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |    AS purchase,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) => {
        T(s, dir, "events").createOrReplaceTempView("events")
        // missing (user, type) combos pivot to NULL; the oracle's
        // CASE-sum yields 0 — coalesce to align
        s.sql("""SELECT user_id, coalesce(click, 0) AS click,
                |  coalesce(purchase, 0) AS purchase,
                |  coalesce(view, 0) AS view
                |FROM (SELECT * FROM (SELECT user_id, event_type FROM events)
                |      PIVOT (count(*) FOR event_type IN
                |             ('click' AS click, 'purchase' AS purchase,
                |              'view' AS view)))
                |ORDER BY user_id""".stripMargin)
      }
    },

    // Correlated LATERAL subquery (per-customer ORDER BY + LIMIT).
    q("sql_lateral",
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
        |WHERE c_custkey % 10 = 0
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin) {
      (s, dir) => Advanced.sqlLateral(s, dir)
    },

    // G3: CUBE grouping sets.
    q("g3_cube",
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin) {
      (s, dir) => Advanced.cubeAgg(T(s, dir, "lineitem"))
    },

    // G3: explicit GROUPING SETS.
    q("g3_grouping_sets",
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin) {
      (s, dir) => Advanced.groupingSetsAgg(T(s, dir, "orders"))
    },

    // Streaming (batch form): watermark-admitted events per type.
    q("st_watermark",
      """SELECT event_type, count(*) AS n FROM events
        |WHERE ts >= (SELECT max(ts) - INTERVAL 6 HOUR FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) => Events.watermarkAdmitted(T(s, dir, "events"))
    },

    // IVF ANN: coarse-quantized cells + nprobe-cell search.
    q("ns_knn_ivf", Similarity.knnIvfOracle(50, 3, 2)) {
      (s, dir) => Similarity.knnIvf(T(s, dir, "embeddings"), 50, 3, 2)
    },

    // IVF with the sampled-training path ACTIVE at fixture scale
    // (trainSample=256 < the 500-vector corpus, where the default
    // 1600 degenerates to full-corpus training): oracle-proves the
    // hash-ordered LIMIT sample + Lloyd-on-sample chain is
    // cross-engine deterministic — the 100 TB build path's quantizer,
    // differentially verified, not just smoked.
    q("ns_knn_ivf_sampled", Similarity.knnIvfOracle(50, 3, 2, 256)) {
      (s, dir) => Similarity.knnIvf(T(s, dir, "embeddings"), 50, 3, 2, 256)
    },

    // Persisted-index IVF: build once into a per-sfDir temp dir
    // (reused across reps), probe with dynamic-partition-pruned cell
    // reads. Ranking-identical to ns_knn_ivf -> same oracle.
    q("ns_knn_ivf_indexed", Similarity.knnIvfOracle(50, 3, 2)) {
      (s, dir) =>
        val idx = ivfIndexDir("emb", dir)
        if (!new java.io.File(s"$idx/cells/_SUCCESS").exists())
          Similarity.ivfBuild(T(s, dir, "embeddings"), idx)
        Similarity.ivfQuery(T(s, dir, "embeddings")
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("embedding")), idx, 3, 2)
    },

    // Incremental index maintenance: build the IVF index on 3/4 of
    // the corpus, ivfAppend the remaining quarter against the
    // persisted quantizer (O(batch) map-only assignment, no rebuild),
    // then probe the combined index. The oracle trains its quantizer
    // on the base subset only — the appended batch must land in
    // base-trained cells, exactly like a daily-ingest batch.
    q("ns_knn_ivf_append",
      Similarity.knnIvfAppendOracle("vec_id % 4 <> 3", 50, 3, 2)) {
      (s, dir) =>
        val emb = T(s, dir, "embeddings")
        val idx = ivfIndexDir("embapp", dir)
        // gate on a marker written AFTER the append: cells/_SUCCESS
        // exists as soon as the base build lands, so a crash between
        // build and append would otherwise cache an index permanently
        // missing the appended quarter
        if (!new java.io.File(s"$idx/_APPENDED").exists()) {
          Similarity.ivfBuild(emb.filter(col("vec_id") % 4 =!= 3), idx)
          Similarity.ivfAppend(emb.filter(col("vec_id") % 4 === 3), idx)
          new java.io.File(s"$idx/_APPENDED").createNewFile()
        }
        Similarity.ivfQuery(emb.filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("embedding")), idx, 3, 2)
    },

    // Cell-bucketed semantic near-dup: candidates form inside shared
    // quantizer cells (nprobe=2 multi-probe via the codegen'd
    // NearestCells pass), the data-adaptive alternative to the
    // hyperplane-bucketed ns_embed_neardup_lsh.
    q("ns_embed_neardup_ivf", Similarity.embeddingNearDupIvfOracle(0.9, 2)) {
      (s, dir) => Similarity.embeddingNearDupIvf(T(s, dir, "embeddings"), 0.9, 2)
    },

    // Product-quantization ANN (ADC): corpus as 8 codebook ids per
    // vector (32x memory compression at serving scale), queries score
    // candidates by integer sums of broadcast lookup-table entries —
    // ranking is tie-free fixed-point, no float on the corpus side.
    q("ns_knn_pq", Similarity.knnPqOracle(50, 3)) {
      (s, dir) => Similarity.knnPq(T(s, dir, "embeddings"), 50, 3)
    },

    // PQ compression-loss measurement: recall@3 vs exact L2.
    q("ns_knn_pq_recall", Similarity.knnPqRecallOracle(50, 3)) {
      (s, dir) => Similarity.knnPqRecall(T(s, dir, "embeddings"), 50, 3)
    },

    // Two-stage PQ serving shape: ADC shortlist over compressed codes
    // -> exact rerank of the shortlist only.
    q("ns_knn_pq_rerank", Similarity.knnPqRerankOracle(50, 3, 32)) {
      (s, dir) => Similarity.knnPqRerank(T(s, dir, "embeddings"), 50, 3, 32)
    },

    // What rerank buys back: recall@3 of the two-stage search.
    q("ns_knn_pq_rerank_recall",
      Similarity.knnPqRerankRecallOracle(50, 3, 32)) {
      (s, dir) => Similarity.knnPqRerankRecall(T(s, dir, "embeddings"), 50, 3, 32)
    },

    // Trained PQ codebook: stride seeds refined with one per-subspace
    // Lloyd round (hash-sampled, fixed-point means — the IVF
    // quantizer's devices applied to each 8-dim subspace).
    q("ns_knn_pq_trained", Similarity.knnPqTrainedOracle(50, 3, 32)) {
      (s, dir) => Similarity.knnPqTrained(T(s, dir, "embeddings"), 50, 3, 32)
    },

    // What training the codebook buys: recall@3 vs exact L2.
    q("ns_knn_pq_trained_recall",
      Similarity.knnPqTrainedRecallOracle(50, 3, 32)) {
      (s, dir) => Similarity.knnPqTrainedRecall(T(s, dir, "embeddings"), 50, 3, 32)
    },

    // IVF-PQ: the composed serving stack — coarse cells prune the
    // candidates, compressed codes price the scoring, exact rerank
    // restores the ranking.
    q("ns_knn_ivfpq", Similarity.knnIvfPqOracle(50, 3, 2, 32)) {
      (s, dir) => Similarity.knnIvfPq(T(s, dir, "embeddings"), 50, 3, 2, 32)
    },

    // End-to-end IVF-PQ quality vs exact L2.
    q("ns_knn_ivfpq_recall", Similarity.knnIvfPqRecallOracle(50, 3, 2, 32)) {
      (s, dir) => Similarity.knnIvfPqRecall(T(s, dir, "embeddings"), 50, 3, 2, 32)
    },

    // Persisted IVF-PQ: codes live in the cell files, the ADC scan
    // reads ONLY (vec_id, codes) of the probed cells (column pruning
    // on top of DPP — asserted in IvfPqIndexSpec); vectors are
    // fetched just for the shortlist rerank. Ranking-identical to the
    // inline form -> same oracle.
    q("ns_knn_ivfpq_indexed", Similarity.knnIvfPqOracle(50, 3, 2, 32)) {
      (s, dir) =>
        // embed the PQ config too: a codebook change (stride/rounds/
        // subspaces) must miss this cache, not probe stale codes
        val idx = ivfIndexDir("embpq-" +
          s"s${Similarity.PqStride}r${Similarity.PqLloydRounds}" +
          s"m${Similarity.PqSubspaces}", dir)
        if (!new java.io.File(s"$idx/cells/_SUCCESS").exists())
          Similarity.ivfBuildPq(T(s, dir, "embeddings"), idx)
        Similarity.ivfPqQuery(T(s, dir, "embeddings")
          .filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("embedding")),
          idx, 3, 2, 32)
    },

    // F10: map functions over parsed JSON props.
    q("f10_map_funcs",
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys_str,
        |  json_extract_string(props, '$.k')::BIGINT AS k_val,
        |  (len(json_keys(props)) + 1)::INT AS n_keys
        |FROM events ORDER BY event_id""".stripMargin) {
      (s, dir) => Functions.mapFunctions(T(s, dir, "events"))
    },

    // F10: struct build / array-of-struct sort / field access.
    q("f10_struct_funcs",
      """WITH t AS (SELECT doc_id,
        |    list_sort(list_transform(string_split(text, ' '),
        |      s -> struct_pack(len := length(s)::INT, tok := s))) AS ss
        |  FROM documents)
        |SELECT doc_id, ss[-1].len AS max_len, ss[-1].tok AS max_tok
        |FROM t ORDER BY doc_id""".stripMargin) {
      (s, dir) => Functions.structFunctions(T(s, dir, "documents"))
    },

    // F10: interval / calendar arithmetic. The 90-day add is integer
    // day arithmetic in the oracle: DuckDB compares interval constants
    // with months≡30days, so INTERVAL 90 DAY == INTERVAL 3 MONTH and
    // its CSE would merge the two additions into one.
    q("f10_interval_arith",
      """SELECT o_orderkey,
        |  strftime(o_orderdate::DATE + INTERVAL 3 MONTH, '%Y-%m-%d')
        |    AS plus_3_months,
        |  strftime(o_orderdate::DATE + 90, '%Y-%m-%d')
        |    AS plus_90_days,
        |  strftime(date_trunc('week', o_orderdate::DATE), '%Y-%m-%d')
        |    AS week_start,
        |  strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end,
        |  extract(doy FROM o_orderdate::DATE)::INT AS doy
        |FROM orders ORDER BY o_orderkey""".stripMargin) {
      (s, dir) => Functions.intervalArithmetic(T(s, dir, "orders"))
    },

    // Typed Dataset[T] surface: case-class Encoder + custom Aggregator.
    q("ds_typed_agg", Typed.typedRevenueOracle) {
      (s, dir) => Typed.typedRevenueByFlag(T(s, dir, "lineitem"))
    },

    // Aggregate FILTER clause: selective aggregation in one pass.
    q("g3_filter_clause",
      """SELECT l_returnflag,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        |  round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
        |    AS deep_discount_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) => {
        T(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""SELECT l_returnflag,
                |  count(*) AS n_all,
                |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
                |  round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
                |    AS deep_discount_price
                |FROM lineitem GROUP BY l_returnflag
                |ORDER BY l_returnflag""".stripMargin)
      }
    },

    // Array set operations (order-normalized for cross-engine parity).
    q("f10_array_setops",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    ['the', 'a', 'scan', 'join'] AS probe
        |  FROM documents)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_filter(toks, x -> list_contains(probe, x)))), ','), '')
        |    AS inter,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_filter(toks, x -> NOT list_contains(probe, x)))), ','), '')
        |    AS minus,
        |  len(list_distinct(toks || probe))::INT AS n_union,
        |  list_has_any(toks, probe) AS overlaps
        |FROM t ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val toks = split(col("text"), " ")
        val probe = array(lit("the"), lit("a"), lit("scan"), lit("join"))
        T(s, dir, "documents").select(col("doc_id"),
            array_join(array_sort(array_intersect(toks, probe)), ",")
              .as("inter"),
            array_join(array_sort(array_except(toks, probe)), ",").as("minus"),
            size(array_union(toks, probe)).as("n_union"),
            arrays_overlap(toks, probe).as("overlaps"))
          .orderBy("doc_id")
      }
    },

    // Modern SQL sugar: GROUP BY ALL / ORDER BY ALL.
    q("sql_group_by_all",
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin) {
      (s, dir) => {
        T(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
                |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin)
      }
    },

    // F10: struct -> JSON serialization (compact, key-ordered).
    q("f10_to_json",
      """SELECT event_id,
        |  to_json(struct_pack(id := event_id, typ := event_type))
        |    AS j
        |FROM events ORDER BY event_id""".stripMargin) {
      (s, dir) => T(s, dir, "events").select(col("event_id"),
          to_json(struct(col("event_id").as("id"),
            col("event_type").as("typ"))).as("j"))
        .orderBy("event_id")
    },

    // df.stat surface: contingency table (crosstab).
    q("g3_crosstab", Relational.crosstabOracle) {
      (s, dir) => Relational.crosstabStatusPriority(T(s, dir, "orders"))
    },

    // Unpivot/melt: wide rate columns to long (kind, value) rows.
    q("g3_unpivot",
      """SELECT l_orderkey, l_linenumber, 'l_discount' AS rate_kind,
        |  l_discount AS rate FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, rate_kind""".stripMargin) {
      (s, dir) => Relational.unpivotRates(T(s, dir, "lineitem"))
    },

    // Repetition quality signal: most-frequent-bigram mass per doc.
    q("ns_repetition", Analysis.repetitionScoreOracle) {
      (s, dir) => Analysis.repetitionScore(T(s, dir, "documents"))
    },

    // Quality-curriculum sampling: value-banded quality strata with
    // rising deterministic-hash keep rates; the per-band mixing table.
    q("ns_quality_sample", Analysis.qualitySampleOracle) {
      (s, dir) => Analysis.qualitySample(T(s, dir, "documents"))
    },

    // C4-style per-source boilerplate detection (trigram document
    // frequency; planted header -> known answer: exactly 3 flagged
    // trigram positions on even docs, 0 elsewhere).
    q("ns_boilerplate", Analysis.boilerplateOracle()) {
      (s, dir) => Analysis.boilerplate(T(s, dir, "documents"))
    },

    // Training-data chunking: overlapping token windows per document.
    q("ns_chunking", Analysis.chunkDocumentsOracle) {
      (s, dir) => Analysis.chunkDocuments(T(s, dir, "documents"))
    },

    // W3: lead / nth_value windows.
    q("w3_lead_nth",
      """SELECT o_custkey, o_orderkey,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  nth_value(o_totalprice, 2) OVER
        |    (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_cheapest
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) {
      (s, dir) => Relational.leadNth(T(s, dir, "orders"))
    },

    // Set ops with bag semantics (multiplicity-preserving).
    q("set_intersect_all",
      """SELECT nationkey, count(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin) {
      (s, dir) => Relational.nationKeyBagOp(
        T(s, dir, "customer"), T(s, dir, "supplier"), "intersect_all")
    },

    q("set_except_all",
      """SELECT nationkey, count(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin) {
      (s, dir) => Relational.nationKeyBagOp(
        T(s, dir, "customer"), T(s, dir, "supplier"), "except_all")
    },

    // O2 via the SQL surface: LIMIT ... OFFSET pagination.
    q("o2_sql_offset",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 30 OFFSET 60""".stripMargin) {
      (s, dir) => {
        T(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderkey, o_totalprice FROM orders
                |ORDER BY o_totalprice DESC, o_orderkey ASC
                |LIMIT 30 OFFSET 60""".stripMargin)
      }
    },

    // Row-level bitwise functions.
    q("f_bitwise_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS and255,
        |  l_orderkey | l_linenumber AS or_line,
        |  xor(l_orderkey, l_linenumber) AS xor_line,
        |  (l_linenumber << 4) AS line_shl4,
        |  (l_orderkey >> 2) AS key_shr2,
        |  bit_count(l_orderkey)::INT AS key_bits
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) {
      (s, dir) => Functions.bitwiseFunctions(T(s, dir, "lineitem"))
    },

    // End-to-end quality-filter gate (lang + quality + repetition).
    q("ns_quality_filter", Analysis.qualityFilterOracle) {
      (s, dir) => Analysis.qualityFilterSummary(T(s, dir, "documents"))
    },

    // URL canonicalization dedup over planted crawl-style URLs.
    q("ns_url_dedup", Analysis.urlDedupOracle) {
      (s, dir) => Analysis.urlDedup(T(s, dir, "documents"))
    },

    // PII scrubbing with planted email/phone and portable regexes.
    q("ns_scrub_pii", Analysis.scrubPiiOracle) {
      (s, dir) => Analysis.scrubPii(T(s, dir, "documents"))
    },

    // F1: explode_outer keeps empty-array rows as NULL elements.
    q("f1_explode_outer",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w = 'window') AS l
        |  FROM documents)
        |SELECT doc_id, w FROM (
        |  SELECT doc_id, unnest(l) AS w FROM t WHERE len(l) > 0
        |  UNION ALL
        |  SELECT doc_id, NULL FROM t WHERE len(l) = 0)
        |ORDER BY doc_id, coalesce(w, '')""".stripMargin) {
      (s, dir) => Functions.explodeOuter(T(s, dir, "documents"))
    },

    // F10: higher-order array functions.
    q("f10_higher_order",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  len(list_filter(toks, w -> length(w) > 4))::INT AS n_long,
        |  len(list_filter(toks, w -> w = 'sort')) > 0 AS has_sort,
        |  len(list_filter(toks, w -> length(w) >= 10)) = 0 AS all_short,
        |  (list_sum(list_transform(toks, w -> length(w))))::BIGINT AS sum_len,
        |  len(list_filter(range(1, len(toks) + 1),
        |    i -> toks[i] = toks[len(toks) + 1 - i]))::INT AS n_sym
        |FROM t ORDER BY doc_id""".stripMargin) {
      (s, dir) => Functions.higherOrderFunctions(T(s, dir, "documents"))
    },

    // ANSI-safe try_* family (errors -> NULL, not exceptions).
    q("f_try_funcs",
      """SELECT c_custkey,
        |  try_cast(c_name AS BIGINT) AS name_num,
        |  c_acctbal / nullif((c_custkey % 3)::DOUBLE, 0) AS bal_div,
        |  CASE WHEN c_custkey > 0 THEN NULL
        |       ELSE 9223372036854775807 END AS overflow_add
        |FROM customer ORDER BY c_custkey""".stripMargin) {
      (s, dir) => Functions.tryFunctions(T(s, dir, "customer"))
    },

    // Edit distance (levenshtein) on derived strings.
    q("f_fuzzy_levenshtein",
      """SELECT c_custkey,
        |  levenshtein(c_name, regexp_replace(c_name, '\d', '', 'g'))::INT
        |    AS lev_digits,
        |  levenshtein(lower(c_mktsegment), 'building')::INT AS lev_building
        |FROM customer ORDER BY c_custkey""".stripMargin) {
      (s, dir) => Functions.fuzzyDistance(T(s, dir, "customer"))
    },

    // End-to-end keep-first near-dup dedup decision (summary row).
    q("ns_dedup_keep_first", Dedup.keepFirstSummaryOracle(0.5)) {
      (s, dir) => Dedup.keepFirstSummary(T(s, dir, "documents"), 0.5)
    },

    // VARIANT semi-structured type: parse once, extract typed fields.
    q("f10_variant",
      """SELECT event_id,
        |  json_extract_string(props, '$.k')::BIGINT AS k_val,
        |  json_extract_string(props, '$.k') AS k_str
        |FROM events ORDER BY event_id""".stripMargin) {
      (s, dir) => Functions.variantExtract(T(s, dir, "events"))
    },

    // CO-LOCATED JOIN over bucketed tables: both facts are hash-
    // clustered on the order key (8 buckets, sorted), so the join and
    // the keyed aggregate plan with ZERO Exchange nodes
    // (BucketedJoinSpec pins the plan) — the shuffle the oracle's
    // plain join pays on both sides every run is pre-paid once at
    // layout time. The result is identical; only the plan differs.
    q("ns_bucketed_join",
      """SELECT o.o_orderkey, o.o_orderpriority,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey % 100 = 0
        |GROUP BY o.o_orderkey, o.o_orderpriority
        |ORDER BY o.o_orderkey""".stripMargin) {
      (s, dir) =>
        bucketedPair(s, dir)
        ops.Bucketing.revenuePerOrder(s, "g_orders_b", "g_lineitem_b")
    },

    // SQL CATALOG front door (GraftCatalog): the table was CREATEd and
    // filled with two SQL INSERT INTO ... SELECT batches through
    // Spark's CatalogManager; this SELECT resolves the identifier
    // through the catalog into a manifest-planned scan. The oracle is
    // the same aggregate over the source table — any row lost or
    // duplicated across CREATE/INSERT/resolution breaks the compare.
    q("ns_sql_catalog",
      """SELECT n_regionkey, count(*) AS n_nations,
        |  min(n_name) AS first_name, max(n_name) AS last_name
        |FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin) {
      (s, dir) =>
        sqlCatalogNation(s, dir)
        s.sql(
          """SELECT n_regionkey, count(*) AS n_nations,
            |  min(n_name) AS first_name, max(n_name) AS last_name
            |FROM gsql.nat GROUP BY n_regionkey
            |ORDER BY n_regionkey""".stripMargin)
    },

    // DataFrame-writer symmetry into the catalog: the table is
    // CREATEd via SQL, filled by df.writeTo(...).append(), and src3's
    // partition is replaced whole by overwritePartitions() — the V2
    // staged dynamic overwrite (no V1 bridge exists for it). The
    // fingerprint breaks if the append missed rows, the overwrite
    // leaked into other partitions, or src3 kept an untagged row.
    q("ns_sql_writeto",
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CASE WHEN source = 'src3' THEN 'w:' || text ELSE text END
         |    AS text
         |  FROM documents)
         |SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM t GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        sqlCatalogDocsWriteTo(s, dir)
        s.table("gsql.docswt")
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // SQL time travel through the catalog: VERSION AS OF pins the
    // manifest snapshot after the FIRST insert batch — the oracle
    // re-derives that state symbolically from the source.
    q("ns_sql_time_travel",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 13 ORDER BY n_nationkey""".stripMargin) {
      (s, dir) =>
        sqlCatalogNation(s, dir)
        s.sql(
          """SELECT n_nationkey, n_name, n_regionkey
            |FROM gsql.nat VERSION AS OF 2
            |ORDER BY n_nationkey""".stripMargin)
    },

    // SQL PARTITIONED BY through the catalog: the CREATE declared the
    // partition column in schema metadata, the INSERT landed Hive
    // directories, and this equality prunes to one partition's files
    // from entry paths alone (CatalogSpec pins the file count). The
    // fingerprint proves partition values re-read exactly.
    q("ns_sql_partitioned",
      s"""SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM documents WHERE source IN ('src3', 'src7')
         |GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        sqlCatalogDocsPart(s, dir)
        s.sql("""SELECT source, doc_id, text FROM gsql.docspart
                |WHERE source IN ('src3', 'src7')""".stripMargin)
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // SQL DELETE FROM (merge-on-read): the WHERE was translated into
    // deletion-vector marks — O(matches) metadata, zero files
    // rewritten — and every later read subtracts them. The oracle
    // derives the post-delete state symbolically; a mark lost,
    // doubled, or mis-positioned breaks the per-source fingerprint.
    q("ns_sql_delete",
      s"""SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM documents WHERE doc_id % 7 <> 0
         |GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        sqlCatalogDocsDel(s, dir)
        s.sql("SELECT source, doc_id, text FROM gsql.docsdel")
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // SQL INSERT OVERWRITE: the replacement snapshot references only
    // the new batch's files (old ones stay for time travel); the
    // current read must see exactly the overwrite batch.
    q("ns_sql_overwrite",
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_regionkey = 2 ORDER BY n_nationkey""".stripMargin) {
      (s, dir) =>
        sqlCatalogNationOv(s, dir)
        s.sql(
          """SELECT n_nationkey, n_name FROM gsql.natov
            |ORDER BY n_nationkey""".stripMargin)
    },

    // SQL UPDATE through Spark's group-based row-level rewrite
    // (SupportsRowLevelOperations): runtime group filtering fed the
    // matching-file set back into the scan, so only files whose rows
    // matched were rewritten; untouched files carried verbatim. The
    // oracle applies the SET symbolically — a lost carry, doubled
    // rewrite, or misplaced match breaks the per-source fingerprint.
    q("ns_sql_update",
      s"""SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || CASE WHEN " +
             "doc_id % 11 = 3 THEN 'u:' || text ELSE text END")}
         |  )::BIGINT AS content_fp
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        sqlCatalogDocsUpd(s, dir)
        s.sql("SELECT source, doc_id, text FROM gsql.docsupd")
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // SQL MERGE INTO, all three branches in one statement: matched
    // rows delete or take the source's text, unmatched source rows
    // insert. The oracle restates the merge algebra as a filtered
    // CASE projection plus the insert batch.
    q("ns_sql_merge",
      s"""WITH final AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 13 = 0 THEN 'm:' || text ELSE text END
         |      AS text
         |  FROM documents WHERE doc_id % 13 <> 5
         |  UNION ALL
         |  SELECT doc_id + 20000000, source, 'new:' || text
         |  FROM documents WHERE doc_id % 997 = 0)
         |SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM final GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        sqlCatalogDocsMerge(s, dir)
        s.sql("SELECT source, doc_id, text FROM gsql.docsmrg")
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // SQL DELETE with an IN-subquery: untranslatable to source
    // filters, so RewriteDeleteFromTable plans the copy-on-write
    // group rewrite — the complement of ns_sql_delete's
    // deletion-vector fast path; same table verb, opposite physical
    // strategy, both fingerprint-checked.
    q("ns_sql_delete_cow",
      s"""SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM documents WHERE doc_id % 5 <> 1
         |GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        sqlCatalogDocsCow(s, dir)
        s.sql("SELECT source, doc_id, text FROM gsql.docscow")
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // DATE/TIMESTAMP columns as first-class manifest citizens: typed
    // CREATE + INSERT (date-sorted, so stats-on-write records tight
    // epoch-day ranges per file), a date-predicate SQL UPDATE that
    // group-prunes on those ranges, and a read back through the
    // manifest reader's timestamp decode. The oracle recomputes every
    // yearly aggregate — including max epoch-micros, which breaks if
    // any timestamp shifts by even one microsecond in either the
    // insert or the rewrite lane.
    q("ns_sql_dates",
      """SELECT extract(year FROM o_orderdate::DATE)::BIGINT AS yr,
        |  count(*) AS n_orders,
        |  sum(CASE WHEN o_orderdate::DATE >= DATE '2001-06-01'
        |      THEN 1 ELSE 0 END)::BIGINT AS n_late,
        |  round(sum(o_totalprice), 2) AS total,
        |  max(epoch_us(o_orderdate))::BIGINT AS max_ts_us
        |FROM orders GROUP BY yr ORDER BY yr""".stripMargin) {
      (s, dir) =>
        sqlCatalogOrdersDt(s, dir)
        s.sql("""SELECT CAST(year(o_odate) AS BIGINT) AS yr,
                |  count(*) AS n_orders,
                |  CAST(sum(CASE WHEN o_orderpriority = 'X-LATE'
                |      THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                |  round(sum(o_totalprice), 2) AS total,
                |  max(unix_micros(o_ts)) AS max_ts_us
                |FROM gsql.ordd GROUP BY yr ORDER BY yr""".stripMargin)
    },

    // Maintenance SQL: OPTIMIZE bin-packed a table fragmented over
    // five insert commits (GraftSqlSpec pins files-after < files-
    // before); the fingerprint proves compaction moved every row
    // exactly once — the same parity contract as ns_compact_parity,
    // reached through the SQL front door.
    q("ns_sql_optimize",
      s"""SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        sqlCatalogDocsOpt(s, dir)
        s.sql("SELECT source, doc_id, text FROM gsql.docsopt")
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },

    // CLONE: the byte-copied table must fingerprint identically to
    // the source's logical content — any file dropped, doubled, or
    // altered by the copy (or a stats/schema mismatch in the cloned
    // manifest) breaks the compare. The clone then evolves
    // independently (GraftSqlSpec pins divergence).
    q("ns_sql_clone",
      s"""SELECT source::VARCHAR AS source, count(*) AS n_docs,
         |  sum(${ops.H.duckHash30("doc_id || '|' || text")}
         |  )::BIGINT AS content_fp
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        sqlCatalogDocsClone(s, dir)
        s.sql("SELECT source, doc_id, text FROM gsql.docsclone")
          .groupBy(col("source").cast("string").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(ops.H.hash30(concat_ws("|", col("doc_id"), col("text"))))
              .as("content_fp"))
          .orderBy("source")
    },
  )

  // ---------------------------------------------------------------- //

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Text.topPTokens(T(spark, "/root/testdata/sf0.001", "documents"), 0.9)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    // a duplicate name would silently shadow a query in this Map and
    // the driver would verify one query twice instead of both
    val dups = registry.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    registry.map(x => x.name -> x.fn).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(x => x.oracle.map(x.name -> _)).toMap
}
