package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Data-layout claims measured, not asserted in prose:
  *
  *  - Z-ordering: the SAME rectangle query over the SAME rows reads
  *    far fewer records from a Morton-clustered layout than from a
  *    1-d-sorted one, because parquet footer min/max stats are tight
  *    on BOTH dimensions only under the curve. This is the file-
  *    skipping mechanism that turns a 100 TB 2-d-selective scan into
  *    a few-file read.
  *  - Compaction: merging a many-small-files shard tree is byte-
  *    lossless (content fingerprint unchanged) and actually reduces
  *    the file count to the ceil(bytes/target) bound, with zero
  *    shuffle (coalesce moves no rows over the network).
  */
class LayoutSpec extends SparkSpec {

  /** Input records read and shuffle bytes written by `run`'s jobs. */
  private def measureRead(run: => Unit): (Long, Long) = {
    val t = metered(run)._2
    (t.inputRecords, t.shuffleWriteBytes)
  }

  test("z-order clustering prunes a 2-d rectangle scan; linear sort does not") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val zDir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val linDir = java.nio.file.Files.createTempDirectory("graft-linear").toString
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", zDir, nFiles = 16)
    // the control: same file count, same sort effort, but 1-d order —
    // every file spans the full l_suppkey range and a partkey slice
    li.withColumn("zkey", Layout.zkey(col("l_partkey"), col("l_suppkey")))
      .repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(linDir)

    def rect(dir: String) =
      Layout.zorderRect(spark.read.parquet(dir), 10, 30, 1, 4)

    val expected = li.filter(col("l_partkey").between(10, 30) &&
      col("l_suppkey").between(1, 4)).count()
    assert(expected > 0, "fixture rectangle must be non-empty")

    val (zRead, _) = measureRead { assert(rect(zDir).count() == expected) }
    val (linRead, _) = measureRead { assert(rect(linDir).count() == expected) }

    // The linear layout reads essentially the whole table (row-group
    // stats can't prune: partkey 10-30 rows appear in a slice of files
    // but suppkey spans everywhere within it); the clustered layout
    // reads only the curve segments crossing the rectangle. 2x is the
    // conservative floor — measured is typically far better.
    info(s"records read: z-ordered=$zRead linear=$linRead " +
      s"(${math.round(linRead.toDouble / zRead * 10) / 10.0}x pruning win)")
    assert(zRead * 2 < linRead,
      s"z-order must out-prune linear: zRead=$zRead linRead=$linRead")
  }

  test("3-d curve out-prunes both the 1-d sort and the 2-d curve on a 3-d box") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val d1 = java.nio.file.Files.createTempDirectory("graft-c1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-c2").toString
    val d3 = java.nio.file.Files.createTempDirectory("graft-c3").toString
    // same row count, same file count, three clustering strategies
    li.repartitionByRange(32, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(d1)
    Manifest.create(spark, d1, Seq("l_partkey", "l_suppkey", "l_orderkey"))
    li.withColumn("zkey", Layout.zkey(col("l_partkey"), col("l_suppkey")))
      .repartitionByRange(32, col("zkey"))
      .sortWithinPartitions("zkey").drop("zkey")
      .write.mode("overwrite").parquet(d2)
    Manifest.create(spark, d2, Seq("l_partkey", "l_suppkey", "l_orderkey"))
    Layout.zcurve3Write(li, d3, nFiles = 32)

    // the 3-d box: moderately selective in EVERY dimension — the
    // workload where one sorted column can't carry the scan (a tight
    // single-column band is 1-d sort's best case by construction;
    // multi-dim clustering earns its shuffle on multi-dim predicates)
    val (xLo, xHi, yLo, yHi, oLo, oHi) = (10, 100, 1, 3, 500, 2000)
    val expected = li.filter(col("l_partkey").between(xLo, xHi) &&
      col("l_suppkey").between(yLo, yHi) &&
      col("l_orderkey").between(oLo, oHi)).count()
    assert(expected > 0, "fixture box must be non-empty")

    def boxRead(dir: String): Long = {
      val pruned = Manifest.prunedPaths(spark, dir, Seq(
          ("l_partkey", xLo.toLong, xHi.toLong),
          ("l_suppkey", yLo.toLong, yHi.toLong),
          ("l_orderkey", oLo.toLong, oHi.toLong))).get
      val (n, _) = measureRead {
        val got =
          if (pruned.isEmpty) 0L
          else spark.read.option("basePath", dir).parquet(pruned: _*)
            .filter(col("l_partkey").between(xLo, xHi) &&
              col("l_suppkey").between(yLo, yHi) &&
              col("l_orderkey").between(oLo, oHi)).count()
        assert(got == expected, s"$dir returned $got != $expected")
      }
      n
    }

    val (r1, r2, r3) = (boxRead(d1), boxRead(d2), boxRead(d3))
    info(s"records read for the 3-d box: 1-d-sort=$r1 2-d-morton=$r2 " +
      s"3-d-morton=$r3")
    assert(r3 < r2, s"3-d must out-prune 2-d on a 3-d box: $r3 vs $r2")
    assert(r3 < r1, s"3-d must out-prune 1-d on a 3-d box: $r3 vs $r1")
  }

  test("hilbert clustering prunes the 2-d rectangle like morton, no seams") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val hDir = java.nio.file.Files.createTempDirectory("graft-hil").toString
    val linDir = java.nio.file.Files.createTempDirectory("graft-hlin").toString
    Layout.hilbertWrite(li, "l_partkey", "l_suppkey", hDir, nFiles = 16)
    li.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(linDir)
    Manifest.create(spark, linDir, Seq("l_partkey", "l_suppkey"))

    val expected = li.filter(col("l_partkey").between(10, 30) &&
      col("l_suppkey").between(1, 4)).count()
    val (hRead, _) = measureRead {
      assert(Layout.hilbertRect(spark, hDir, 10, 30, 1, 4).count() == expected)
    }
    val (linRead, _) = measureRead {
      assert(Layout.hilbertRect(spark, linDir, 10, 30, 1, 4).count() == expected)
    }
    info(s"records read: hilbert=$hRead unclustered=$linRead")
    assert(hRead * 2 < linRead,
      s"hilbert clustering must prune the rectangle: $hRead vs $linRead")
  }

  test("property: hilbert key is a bijection and consecutive cells touch") {
    import graft.functions.HilbertCurve
    // inverse walk (d -> xy), the standard recurrence
    def d2xy(dIn: Long): (Long, Long) = {
      var (x, y, t) = (0L, 0L, dIn)
      var s = 1L
      while (s < (1L << HilbertCurve.Bits)) {
        val rx = (t / 2) & 1
        val ry = (t ^ rx) & 1
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx
        y += s * ry
        t /= 4
        s *= 2
      }
      (x, y)
    }
    val rnd = new scala.util.Random(11)
    // round-trip: xy2d(d2xy(d)) == d on random curve positions
    (0 until 512).foreach { _ =>
      val d = math.abs(rnd.nextLong()) % (1L << (2 * HilbertCurve.Bits))
      val (x, y) = d2xy(d)
      assert(HilbertCurve.xy2d(x, y) == d, s"round trip broke at d=$d")
    }
    // continuity: consecutive curve positions are grid NEIGHBORS —
    // the no-seam property Morton lacks (its quadrant jumps), and the
    // reason Hilbert file boxes are tighter in the worst case
    (0 until 512).foreach { _ =>
      val d = math.abs(rnd.nextLong()) % ((1L << (2 * HilbertCurve.Bits)) - 1)
      val (x1, y1) = d2xy(d)
      val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumped at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
  }

  test("property: the 3-d z-key is a bijection on the 16-bit grid") {
    // deinterleave every 3rd bit back out and demand the original
    // coordinates — no bit lost or aliased across the three dims
    def unspread3(z: Long, j: Int): Long =
      (0 until 16).map(i => ((z >> (3 * i + j)) & 1L) << i).reduce(_ | _)
    val rnd = new scala.util.Random(13)
    val pts = Seq.tabulate(256)(i =>
      if (i < 8) (Seq(0L, 65535L)(i % 2), Seq(0L, 65535L)((i / 2) % 2),
        Seq(0L, 65535L)(i / 4))
      else (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong,
        rnd.nextInt(65536).toLong))
    val df = spark.createDataFrame(pts).toDF("x", "y", "o")
      .select(col("x"), col("y"), col("o"),
        Layout.zkeyN(Seq(col("x"), col("y"), col("o"))).as("z"))
    val bad = df.collect().filter { r =>
      unspread3(r.getLong(3), 0) != r.getLong(0) ||
        unspread3(r.getLong(3), 1) != r.getLong(1) ||
        unspread3(r.getLong(3), 2) != r.getLong(2)
    }
    assert(bad.isEmpty, s"non-bijective 3-d z-keys: ${bad.take(3).toSeq}")
  }

  test("morton key survives CODEGEN_ONLY factory mode (no silent fallback)") {
    // a Janino failure in MortonKey.doGenCode would silently fall back
    // to interpreted eval and erase the 4x clustered-write win; force
    // the codegen-only factory so a broken doGenCode FAILS the suite
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val out = spark.range(-5, 1000, 7)
        .selectExpr("id AS x", "id * 31 AS y", "id * 17 AS o")
        .select(Layout.zkeyN(Seq(col("x"), col("y"), col("o"))).as("z"))
        .agg(sum("z")).head().getLong(0)
      assert(out != 0L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("morton key declares LongType inputs: int children cast at analysis, not CCE at runtime") {
    // round-10 advisor: a raw MortonKey over non-long children used to
    // compile the plan and ClassCastException in interpreted eval (or
    // emit ill-typed Java). ExpectsInputTypes makes analysis insert
    // the implicit cast, so INT/SMALLINT coordinates now evaluate
    // identically to their explicit bigint casts on both eval paths.
    import graft.functions.MortonKey
    import org.apache.spark.sql.graftShims
    val df = spark.range(0, 500, 3)
      .selectExpr("cast(id AS int) AS xi", "cast(id * 31 AS int) AS yi")
    val raw = graftShims.toColumn(MortonKey(
      Seq(graftShims.toExpression(col("xi")),
        graftShims.toExpression(col("yi"))), 16))
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
      val key = "spark.sql.codegen.factoryMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, mode)
      try {
        val diff = df.select(raw.as("raw"),
            Layout.zkeyN(Seq(col("xi"), col("yi")), 16).as("cast"))
          .filter(!(col("raw") <=> col("cast"))).count()
        assert(diff == 0, s"int-child morton mismatch under $mode")
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("property: codegen'd morton key == the select-shift Column tree") {
    // the codegen'd MortonKey replaced an O(bits*d)-node Column tree
    // on the clustered-write hot path; the tree stays as the
    // executable spec and the two must be bit-equal on every input,
    // including negatives (masked) and nulls (null out)
    val rnd = new scala.util.Random(97)
    val rows = Seq.tabulate(1000)(i =>
      (if (i % 17 == 0) null else java.lang.Long.valueOf(rnd.nextLong()),
        java.lang.Long.valueOf(rnd.nextLong()),
        java.lang.Long.valueOf(rnd.nextLong())))
    val df = spark.createDataFrame(rows).toDF("a", "b", "c")
    for ((cols, bits) <- Seq(
        (Seq("a", "b"), 16), (Seq("a", "b", "c"), 16),
        (Seq("a", "b", "c"), 21), (Seq("a", "b", "c", "a"), 15))) {
      val cs = cols.map(col)
      val diff = df.select(
          Layout.zkeyN(cs, bits).as("fast"),
          Layout.zkeyNTree(cs, bits).as("tree"))
        .filter(!(col("fast") <=> col("tree"))).count()
      assert(diff == 0, s"morton mismatch for d=${cols.size} bits=$bits")
    }
  }

  test("3-d z-key matches its own SQL twin on the session engine") {
    val df = spark.range(-3, 70000, 997)
      .selectExpr("id AS l_partkey", "(id * 31 + 7) % 70000 AS l_suppkey",
        "(id * 17 + 3) % 70000 AS l_orderkey")
    val viaColumn = df.select(Layout.zkey3.as("z"))
    val viaSql = df.selectExpr(
      Layout.zkey3Sql.replace("::BIGINT", "") + " AS z")
    assert(viaColumn.exceptAll(viaSql).isEmpty &&
      viaSql.exceptAll(viaColumn).isEmpty)
  }

  test("property: the z-key is a bijection on the 16-bit grid") {
    // deinterleave the Morton code in plain Scala and demand the
    // original coordinates back — proves no bit is lost or aliased,
    // i.e. curve locality claims rest on a true space-filling curve
    def unspread(z: Long): Long = {
      var v = z & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
      v
    }
    val rnd = new scala.util.Random(7)
    val pts = Seq.tabulate(256)(i =>
      if (i < 4) (Seq(0L, 65535L)(i % 2), Seq(0L, 65535L)(i / 2))
      else (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = spark.createDataFrame(pts).toDF("x", "y")
      .select(col("x"), col("y"), Layout.zkey(col("x"), col("y")).as("z"))
    val bad = df.collect().filter { r =>
      unspread(r.getLong(2)) != r.getLong(0) ||
        unspread(r.getLong(2) >> 1) != r.getLong(1)
    }
    assert(bad.isEmpty, s"non-bijective z-keys: ${bad.take(3).toSeq}")
  }

  test("z-key matches its own SQL twin on the session engine") {
    // the Morton ladder is engine-agnostic integer arithmetic: the
    // Column form and the SQL-text form (what the DuckDB oracle runs)
    // must agree bit-for-bit, including the low-16-bit quantization
    val df = spark.range(-3, 70000, 997)
      .selectExpr("id AS x", "(id * 31 + 7) % 70000 AS y")
    val viaColumn = df.select(Layout.zkey(col("x"), col("y")).as("z"))
    val viaSql = df.selectExpr(
      Layout.zkeySql("x", "y").replace("::BIGINT", "") + " AS z")
    assert(viaColumn.exceptAll(viaSql).isEmpty &&
      viaSql.exceptAll(viaColumn).isEmpty)
  }

  test("copy-on-write delete rewrites only footer-intersecting files") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cow-src").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-cow-out").toString
    docs.repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(srcDir)

    val pred = col("doc_id").between(100, 140)
    val (hit, total) = Layout.deleteRewrite(spark, srcDir, outDir, pred)
    info(s"rewrote $hit of $total files for a 41-id range delete")
    // a range delete against range-clustered files touches the files
    // covering the range, not the table: with 16 files over the id
    // space, a 41-id window must land in a small minority of them
    assert(hit > 0 && hit <= total / 4,
      s"expected a pruned rewrite, got $hit of $total files")

    // survivor parity: fingerprint(out) == fingerprint(raw minus range)
    val expected = Layout.contentFingerprint(docs.filter(!pred))
      .collect().toSeq
    val got = Layout.contentFingerprint(spark.read.parquet(outDir))
      .collect().toSeq
    assert(got == expected)
    // and the deleted rows are actually gone
    assert(spark.read.parquet(outDir).filter(pred).count() == 0)
  }

  test("copy-on-write delete retains rows where the predicate is NULL") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cow-null").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-cow-nullout").toString
    // status: one deletable value, one keeper, one NULL — the NULL row
    // must survive (SQL three-valued logic: NOT NULL is NULL, and a
    // bare filter(!pred) would silently drop it)
    Seq((1L, Some("bad")), (2L, Some("ok")), (3L, Option.empty[String]))
      .toDF("id", "status")
      .repartition(1).write.mode("overwrite").parquet(srcDir)
    Layout.deleteRewrite(spark, srcDir, outDir, col("status") === "bad")
    val kept = spark.read.parquet(outDir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 3L),
      s"NULL-predicate row must survive the rewrite, kept: $kept")
  }

  test("delete against a many-file table carries untouched files concurrently") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cow-many").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-cow-manyout").toString
    // 64 range-clustered files; the delete range hits a handful, so
    // ~60 files ride the carried-copy path — the shape where a serial
    // driver loop's per-copy latency dominates wall time
    docs.repartitionByRange(64, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(srcDir)
    val pred = col("doc_id").between(200, 220)
    val t0 = System.nanoTime()
    val (hit, total) = Layout.deleteRewrite(spark, srcDir, outDir, pred)
    val ms = (System.nanoTime() - t0) / 1e6
    info(f"rewrote $hit of $total files, carried ${total - hit}, $ms%.0f ms")
    assert(total == 64 && hit <= 8, s"pruned rewrite expected: $hit/$total")
    // every carried file is present byte-for-byte and parity holds
    val carried = new java.io.File(outDir).listFiles()
      .count(_.getName.startsWith("carry-"))
    assert(carried == total - hit, s"carried $carried of ${total - hit}")
    val expected = Layout.contentFingerprint(docs.filter(!pred)).collect().toSeq
    val got = Layout.contentFingerprint(spark.read.parquet(outDir)).collect().toSeq
    assert(got == expected)
  }

  test("compaction is byte-lossless and hits the file-count bound, shuffle-free") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val shardDir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val compDir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // tiny maxRecordsPerFile forces the small-file debt compaction fixes
    Pipeline.writeShards(docs, shardDir, maxRecordsPerFile = 5)

    val ((before, after), t) =
      metered(Layout.compactShards(spark, shardDir, compDir))
    // the data merge moves NO rows over the network (coalesce only
    // unions splits); the only shuffle is the manifest build's per-file
    // aggregate — metadata-sized, O(#files x stat cols), never O(rows)
    assert(t.shuffleWriteBytes < (64 << 10),
      s"compaction may shuffle only manifest metadata " +
        s"(moved ${t.shuffleWriteBytes} bytes)")

    // content parity: fingerprint of compacted tree == raw table
    val rawFp = Layout.contentFingerprint(docs).collect().toSeq
    val compFp =
      Layout.contentFingerprint(spark.read.parquet(compDir)).collect().toSeq
    assert(rawFp == compFp)

    val nSources = docs.select("source").distinct.count().toInt
    val nFiles = spark.read.parquet(compDir).inputFiles.length
    assert(after == nSources && nFiles == nSources,
      s"expected 1 compacted file per source ($nSources), " +
        s"found after=$after files=$nFiles")
    assert(before > after, s"compaction must reduce files: $before -> $after")
  }
}
