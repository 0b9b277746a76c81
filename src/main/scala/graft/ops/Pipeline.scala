package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-production operators a large-scale training-data pipeline
  * runs between "crawl" and "train": benchmark-contamination
  * detection, sequence packing into token budgets, cross-corpus
  * dedup of an incoming batch against a reference corpus, and
  * deterministic per-source (domain-mix) sampling.
  *
  * Scale posture (100 TB):
  *  - contamination + cross-dedup candidate generation is bucketed
  *    (shared-shingle join / minhash band join), never all-pairs, with
  *    the same df-cap as [[Dedup.ngramJaccard]] bounding hot keys;
  *  - packing windows are partitioned per source shard — the global
  *    order a single window would need does not exist at corpus
  *    scale, and per-shard packing is what production pipelines do;
  *  - sampling decisions are pure per-row md5 hash arithmetic
  *    (map-only, reproducible across engines and runs — no RNG
  *    state, no driver coordination).
  */
object Pipeline {

  import Dedup.{MaxShingleDf, VariantIdOffset}

  /** Train/eval n-gram contamination check. Eval set: every 25th doc.
    * Training set: the drop-first-token variants of ALL docs (so the
    * eval docs' variants are deliberate "leaks" that must be caught).
    * A training doc is flagged when it shares any surviving 3-gram
    * shingle with an eval doc; reported with how many eval docs it
    * hits and the total shared-shingle count.
    *
    * Shingles with document frequency > `maxDf` are dropped before
    * the join, exactly as in [[Dedup.ngramJaccard]]: boilerplate
    * n-grams carry no contamination signal and are the quadratic hot
    * keys at scale.
    */
  def contamination(docs: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    val (evalSh, trainSh) = contaminationShingles(docs, maxDf)
    trainSh.join(evalSh, "sh")
      .groupBy("train_id")
      .agg(countDistinct(col("eval_id")).as("n_eval_docs"),
        count(lit(1)).as("n_shared"))
      .orderBy("train_id")
  }

  /** The df-capped (eval_id, sh) / (train_id, sh) shingle frames the
    * contamination checks probe — shared so the exact join and the
    * Bloom variant see identical sets.
    */
  private def contaminationShingles(docs: DataFrame,
      maxDf: Int): (DataFrame, DataFrame) = {
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val eval_ = base.filter(col("doc_id") % 25 === 0)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id").as("eval_id"), col("toks"))
    val train = base.filter(size(col("toks")) > 3)
      .select((col("doc_id") + VariantIdOffset).as("train_id"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("toks"))
    def shingleRows(df: DataFrame, idCol: String) = df
      .select(col(idCol),
        explode(array_distinct(Dedup.shingles(col("toks"), 3))).as("sh"))
    val evalSh = shingleRows(eval_, "eval_id")
    val trainSh = shingleRows(train, "train_id")
    val hot = trainSh.select("sh")
      .unionAll(evalSh.select("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("sh")
    (evalSh.join(hot, Seq("sh"), "left_anti"),
      trainSh.join(hot, Seq("sh"), "left_anti"))
  }

  def contaminationOracle(maxDf: Int = MaxShingleDf): String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |ev AS (SELECT doc_id AS eval_id, toks FROM base
       |       WHERE doc_id % 25 = 0 AND len(toks) >= 3),
       |tr AS (SELECT doc_id + $VariantIdOffset AS train_id, toks[2:] AS toks
       |       FROM base WHERE len(toks) > 3),
       |evsh AS (SELECT eval_id, unnest(list_distinct(
       |    list_transform(range(1, len(toks)-1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
       |  FROM ev),
       |trsh AS (SELECT train_id, unnest(list_distinct(
       |    list_transform(range(1, len(toks)-1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
       |  FROM tr),
       |hot AS (SELECT sh FROM (SELECT sh FROM trsh UNION ALL SELECT sh FROM evsh)
       |        GROUP BY sh HAVING count(*) > $maxDf),
       |t2 AS (SELECT * FROM trsh WHERE sh NOT IN (SELECT sh FROM hot)),
       |e2 AS (SELECT * FROM evsh WHERE sh NOT IN (SELECT sh FROM hot))
       |SELECT train_id, count(DISTINCT eval_id) AS n_eval_docs,
       |  count(*) AS n_shared
       |FROM t2 JOIN e2 USING (sh)
       |GROUP BY train_id ORDER BY train_id""".stripMargin

  /** Bloom words for the contamination filter: 1024 x 32-bit words =
    * a 4 KB filter (32 bits per word keeps every shifted bit inside a
    * positive BIGINT — no sign-bit portability questions).
    */
  val BloomWords = 1024

  /** Contamination check as a broadcast BLOOM FILTER instead of a
    * shingle join — the 100 TB shape when the eval set is fixed and
    * the train side is the corpus: the filter is built once from the
    * eval shingles (two salted md5 bit positions each, bit_or-folded
    * into [[BloomWords]] words — a 4 KB table), broadcast, and every
    * train shingle tests membership MAP-ONLY. No shuffle of train
    * shingles at all, vs the exact join's shuffle of both sides.
    * The price is false positives — and because the bit positions are
    * deterministic md5 arithmetic, the EXACT SAME false positives
    * occur in both engines, so this is oracle-checkable, and the
    * output quantifies the trade directly: per train doc, bloom hits
    * vs the exact join's verdict plus a false-positive flag. (This is
    * the explicit form of the pattern Spark injects implicitly as
    * runtime bloom-filter joins — BloomJoinSpec pins that one.)
    */
  def contaminationBloom(docs: DataFrame,
      maxDf: Int = MaxShingleDf, words: Int = BloomWords): DataFrame = {
    val (evalSh, trainSh) = contaminationShingles(docs, maxDf)
    val bits = words * 32L
    // Both bit positions from ONE md5: p1 = the hash's low log2(bits)
    // bits, p2 = the next window up (classic double hashing — with
    // bits = 2^15 the two windows are disjoint slices of the 60-bit
    // hash). Round-13: the salted two-md5 form paid the query's
    // dominant CPU twice per train shingle; the windows halve it for
    // the same oracle-checkable determinism (the FP pattern changes,
    // and changes identically in both engines).
    val bloom = evalSh
      .select(H.hash60(col("sh")).as("hh"))
      .select(explode(array(col("hh") % bits,
        expr(s"(hh DIV $bits) % $bits"))).as("p"))
      .select(expr("p DIV 32").as("w"), (col("p") % 32).cast("int").as("b"))
      .groupBy("w")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("word"))
    val probed = trainSh
      .withColumn("hh", H.hash60(col("sh")))
      .withColumn("p1", col("hh") % bits)
      .withColumn("p2", expr(s"(hh DIV $bits) % $bits"))
      .select(col("train_id"), col("sh"),
        expr("p1 DIV 32").as("w1"), (col("p1") % 32).cast("int").as("b1"),
        expr("p2 DIV 32").as("w2"), (col("p2") % 32).cast("int").as("b2"))
    val j = probed
      .join(broadcast(bloom.select(col("w").as("w1"), col("word").as("word1"))),
        Seq("w1"), "left")
      .join(broadcast(bloom.select(col("w").as("w2"), col("word").as("word2"))),
        Seq("w2"), "left")
      .withColumn("hit",
        coalesce(expr("shiftright(word1, b1) & 1"), lit(0L)) === 1 &&
          coalesce(expr("shiftright(word2, b2) & 1"), lit(0L)) === 1)
    // Ground truth probes only the bloom-HIT shingles: a Bloom filter
    // has no false negatives, so every genuinely shared shingle has
    // both bits set — the exact verdict over hits equals the exact
    // verdict over the full stream. The hit shingles ride the perDoc
    // aggregation as a collect_set (when() leaves misses NULL and
    // collect_set drops NULLs), so the train shingle stream is read
    // ONCE and shuffled ONCE (by train_id, carrying only the rare
    // hits as payload): both downstream consumers — the verdict join
    // and the final report — hang off the same exchange, which AQE
    // reuses. Round-13: previously the ground truth re-shuffled the
    // ENTIRE train shingle stream through an equi-join to confirm
    // what the 4 KB broadcast filter had already screened; at 100 TB
    // that exchange dwarfs everything else in the query.
    val perDoc = j.groupBy("train_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"),
        collect_set(when(col("hit"), col("sh"))).as("hit_sh"))
    val exact = perDoc
      .select(col("train_id"), explode(col("hit_sh")).as("sh"))
      .join(evalSh.select("sh").distinct(), "sh")
      .select("train_id").distinct()
      .withColumn("is_true", lit(true))
    perDoc.drop("hit_sh").join(exact, Seq("train_id"), "left")
      .select(col("train_id"), col("n_sh"), col("n_hit"),
        (col("n_hit") > 0).as("bloom_flagged"),
        coalesce(col("is_true"), lit(false)).as("exact_contaminated"),
        (col("n_hit") > 0 && !coalesce(col("is_true"), lit(false)))
          .as("false_positive"))
      .orderBy("train_id")
  }

  def contaminationBloomOracle(maxDf: Int = MaxShingleDf,
      words: Int = BloomWords): String = {
    val bits = words * 32L
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |ev AS (SELECT doc_id AS eval_id, toks FROM base
       |       WHERE doc_id % 25 = 0 AND len(toks) >= 3),
       |tr AS (SELECT doc_id + $VariantIdOffset AS train_id, toks[2:] AS toks
       |       FROM base WHERE len(toks) > 3),
       |evsh AS (SELECT eval_id, unnest(list_distinct(
       |    list_transform(range(1, len(toks)-1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
       |  FROM ev),
       |trsh AS (SELECT train_id, unnest(list_distinct(
       |    list_transform(range(1, len(toks)-1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
       |  FROM tr),
       |hot AS (SELECT sh FROM (SELECT sh FROM trsh UNION ALL SELECT sh FROM evsh)
       |        GROUP BY sh HAVING count(*) > $maxDf),
       |t2 AS (SELECT * FROM trsh WHERE sh NOT IN (SELECT sh FROM hot)),
       |e2 AS (SELECT * FROM evsh WHERE sh NOT IN (SELECT sh FROM hot)),
       |bloompos AS (SELECT unnest([hh % $bits, (hh // $bits) % $bits]) AS p
       |  FROM (SELECT ${H.duckHash60("sh")} AS hh FROM e2)),
       |bloom AS (SELECT p // 32 AS w,
       |    bit_or((1::BIGINT) << ((p % 32)::INT)) AS word
       |  FROM bloompos GROUP BY 1),
       |probed AS (SELECT train_id,
       |    p1 // 32 AS w1, (p1 % 32)::INT AS b1,
       |    p2 // 32 AS w2, (p2 % 32)::INT AS b2
       |  FROM (SELECT train_id, hh % $bits AS p1, (hh // $bits) % $bits AS p2
       |    FROM (SELECT train_id, ${H.duckHash60("sh")} AS hh FROM t2))),
       |j AS (SELECT train_id,
       |    CASE WHEN coalesce((x1.word >> b1) & 1, 0) = 1
       |          AND coalesce((x2.word >> b2) & 1, 0) = 1
       |      THEN 1 ELSE 0 END AS hit
       |  FROM probed
       |  LEFT JOIN bloom x1 ON w1 = x1.w
       |  LEFT JOIN bloom x2 ON w2 = x2.w),
       |perdoc AS (SELECT train_id, count(*) AS n_sh,
       |    sum(hit)::BIGINT AS n_hit
       |  FROM j GROUP BY 1),
       |exact AS (SELECT DISTINCT train_id FROM t2 JOIN e2 USING (sh))
       |SELECT p.train_id, n_sh, n_hit,
       |  n_hit > 0 AS bloom_flagged,
       |  (e.train_id IS NOT NULL) AS exact_contaminated,
       |  (n_hit > 0 AND e.train_id IS NULL) AS false_positive
       |FROM perdoc p LEFT JOIN exact e USING (train_id)
       |ORDER BY train_id""".stripMargin
  }

  /** Sequence packing: assign each document to a fixed token-budget
    * bin, packing greedily in doc_id order WITHIN its source shard
    * (bin = whole-doc placement by running token count). Per-shard
    * windows, deliberately: a corpus has no global order to pack by,
    * and one global window would serialize the job — per-source
    * packing is both the scalable and the semantically right shape
    * (training shards are built per domain slice).
    */
  def seqPack(docs: DataFrame, budget: Int = 256): DataFrame = {
    val toks = docs.select(col("source"), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.withColumn("cum", sum("n_toks").over(w))
      .select(col("source"), col("doc_id"), col("n_toks"),
        expr(s"(cum - n_toks) div $budget").as("bin_id"),
        (col("cum") - col("n_toks") - expr(s"(cum - n_toks) div $budget") * budget)
          .as("bin_offset"))
      .orderBy("source", "doc_id")
  }

  def seqPackOracle(budget: Int = 256): String =
    s"""WITH t AS (SELECT source, doc_id,
       |    len(string_split(text, ' '))::BIGINT AS n_toks FROM documents),
       |c AS (SELECT source, doc_id, n_toks,
       |    sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT source, doc_id, n_toks,
       |  ((cum - n_toks) // $budget)::BIGINT AS bin_id,
       |  (cum - n_toks - ((cum - n_toks) // $budget) * $budget)::BIGINT AS bin_offset
       |FROM c ORDER BY source, doc_id""".stripMargin

  /** Training-shard writer — the sink at the end of the corpus
    * pipeline: Hive-style `source=` partition directories (any
    * per-domain read prunes whole directories before listing a file),
    * file sizes bounded by `maxRecordsPerFile` (each shard stays an
    * independently loadable unit), and rows range-partitioned +
    * sorted on (source, doc_id) so every shard file covers a
    * contiguous doc_id span — parquet min/max zone maps then prune
    * doc-range reads inside a source too.
    *
    * `repartitionByRange` rather than `repartition(col("source"))`,
    * deliberately: hash-by-source gives one task per source (a
    * dominant domain — half a real crawl — would serialize into one
    * writer), while range partitioning splits a big source across
    * many tasks yet keeps each task's output inside one partition
    * directory. The reference's nearest surface is the CSV download
    * sink (serve_view_df.py:160-173); this is its corpus-scale form.
    */
  def writeShards(docs: DataFrame, dir: String,
      maxRecordsPerFile: Int = 1000000): Unit =
    docs.repartitionByRange(col("source"), col("doc_id"))
      .sortWithinPartitions("source", "doc_id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("source")
      .parquet(dir)

  /** Cross-corpus dedup: an INCOMING batch (the drop-first-token
    * variants) checked against a REFERENCE corpus (the originals) by
    * MinHash-LSH band collision + signature-estimate confirmation —
    * the "dedup the new crawl against what we already have" shape.
    * Unlike the self-join of [[Dedup.minhashLsh]], the band join here
    * is incoming x reference, so a daily batch only shuffles
    * O(batch + touched reference buckets). One row per flagged
    * incoming doc: how many reference docs it matched and its best
    * similarity estimate.
    */
  def crossDedup(docs: DataFrame, minSim: Double = 0.5): DataFrame = {
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val reference = base.filter(size(col("toks")) >= 3)
    val incoming = base.filter(size(col("toks")) > 3)
      .select((col("doc_id") + VariantIdOffset).as("doc_id"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("toks"))
    def bands(corpus: DataFrame) = {
      val sigs = Dedup.signatures(corpus)
      val bandKeys = transform(sequence(lit(0), lit(Dedup.Bands - 1)),
        j => concat_ws("_",
          element_at(col("sig"), j * 2 + 1), element_at(col("sig"), j * 2 + 2)))
      sigs.select(col("doc_id"), col("sig"),
        posexplode(bandKeys).as(Seq("band", "key")))
    }
    val est = aggregate(
      zip_with(col("in.sig"), col("ref.sig"),
        (u, v) => when(u === v, 1L).otherwise(0L)),
      lit(0L), (acc, m) => acc + m) / lit(Dedup.MinhashAB.size.toDouble)
    // shuffle_hash (round-13, was merge): same exchanges either way,
    // but the hash join skips sorting both band tables' fat
    // (sig, key) rows — see Dedup.minhashPairs for the full rationale
    // and the non-spillable-build-side caveat (drop the hint if a
    // band key ever concentrates beyond AQE's skew split)
    bands(incoming).as("in")
      .join(bands(reference).as("ref").hint("shuffle_hash"),
        col("in.band") === col("ref.band") && col("in.key") === col("ref.key"))
      .select(col("in.doc_id").as("incoming_id"),
        col("ref.doc_id").as("ref_id"), est.as("est_sim"))
      .filter(col("est_sim") >= minSim)
      .distinct() // several bands can pair the same docs
      .groupBy("incoming_id")
      .agg(count(lit(1)).as("n_ref_matches"), max(col("est_sim")).as("best_sim"))
      .orderBy("incoming_id")
  }

  def crossDedupOracle(minSim: Double = 0.5): String = {
    val sigExprs = Dedup.MinhashAB.map { case (a, b) =>
      s"list_min(list_transform(hs, x -> ($a*x + $b) % ${Dedup.MinhashMod}))"
    }.mkString(",\n    ")
    val bandKey = "sig[2*j+1]::VARCHAR || '_' || sig[2*j+2]::VARCHAR"
    val nSig = Dedup.MinhashAB.size
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |ref AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 3),
       |inc AS (SELECT doc_id + $VariantIdOffset AS doc_id, toks[2:] AS toks
       |        FROM base WHERE len(toks) > 3),
       |refh AS (SELECT doc_id, list_transform(
       |    list_transform(range(1, len(toks)-1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
       |    s -> ${H.duckHash30("s")}) AS hs FROM ref),
       |inch AS (SELECT doc_id, list_transform(
       |    list_transform(range(1, len(toks)-1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
       |    s -> ${H.duckHash30("s")}) AS hs FROM inc),
       |refsig AS (SELECT doc_id, [$sigExprs] AS sig FROM refh),
       |incsig AS (SELECT doc_id, [$sigExprs] AS sig FROM inch),
       |refb AS (SELECT doc_id, j, $bandKey AS key
       |         FROM refsig, unnest(range(0, ${Dedup.Bands})) AS t(j)),
       |incb AS (SELECT doc_id, j, $bandKey AS key
       |         FROM incsig, unnest(range(0, ${Dedup.Bands})) AS t(j)),
       |cand AS (SELECT DISTINCT i.doc_id AS incoming_id, r.doc_id AS ref_id
       |         FROM incb i JOIN refb r ON i.j = r.j AND i.key = r.key),
       |est AS (SELECT incoming_id, ref_id,
       |          len(list_filter(range(1, ${nSig + 1}),
       |            i -> x.sig[i] = y.sig[i])) / $nSig.0 AS est_sim
       |        FROM cand JOIN incsig x ON incoming_id = x.doc_id
       |                  JOIN refsig y ON ref_id = y.doc_id)
       |SELECT incoming_id, count(*) AS n_ref_matches, max(est_sim) AS best_sim
       |FROM est WHERE est_sim >= $minSim
       |GROUP BY incoming_id ORDER BY incoming_id""".stripMargin
  }

  /** End-to-end corpus build — the capstone composition: the Gopher
    * quality gate, then exact dedup (min doc_id per content hash),
    * then MinHash-LSH near-dup keep-first, each stage feeding the
    * next, with one summary row of survivor counts per stage. This is
    * the actual "raw crawl -> training corpus" pipeline the
    * individual operators exist for; running it as ONE lazy plan
    * means Catalyst sees the whole composition (each stage's filter
    * prunes before the next stage's shuffle — the near-dup banding
    * runs over only the quality-gated, exact-deduped survivors).
    */
  def corpusBuild(docs: DataFrame, minSim: Double = 0.5): DataFrame = {
    // structural rules only: the stopword rule is vocabulary-dependent
    // (this corpus's synthetic vocabulary contains no English
    // stopwords, and a gate that drops 100% of docs would leave the
    // downstream dedup stages composing over nothing)
    val quality = Analysis.gopherFilter(docs)
      .filter(col("ok_word_count") && col("ok_mean_word_len") &&
        col("ok_symbol_ratio") && col("ok_alpha_words"))
      .select("doc_id").join(docs, "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(H.hash60(col("text"))).orderBy("doc_id")
    val exactKept = quality.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val corpus = exactKept
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    val drops = Dedup.minhashPairs(corpus, minSim)
      .select(col("id_b").as("doc_id")).distinct()
    val finalKept = exactKept.join(drops, Seq("doc_id"), "left_anti")
    docs.agg(count(lit(1)).as("n_in"))
      .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
      .crossJoin(exactKept.agg(count(lit(1)).as("n_exact")))
      .crossJoin(finalKept.agg(count(lit(1)).as("n_final")))
  }

  def corpusBuildOracle(minSim: Double = 0.5): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |${Analysis.gopherMetricsCte},
       |quality AS (SELECT d.doc_id, d.text FROM documents d JOIN m USING (doc_id)
       |            WHERE ${Analysis.gopherStructuralCond}),
       |exact AS (SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      row_number() OVER (PARTITION BY ${H.duckHash60("text")} ORDER BY doc_id) AS rn
       |    FROM quality) WHERE rn = 1),
       |corpus AS (SELECT doc_id, string_split(text, ' ') AS toks FROM exact
       |           WHERE len(string_split(text, ' ')) >= 3),
       |${Dedup.minhashEstCtes},
       |drops AS (SELECT DISTINCT id_b FROM est WHERE est_sim >= $minSim)
       |SELECT
       |  (SELECT count(*) FROM documents) AS n_in,
       |  (SELECT count(*) FROM quality) AS n_quality,
       |  (SELECT count(*) FROM exact) AS n_exact,
       |  (SELECT count(*) FROM exact
       |   WHERE doc_id NOT IN (SELECT id_b FROM drops)) AS n_final""".stripMargin

  // -------------------- incremental corpus build (round 16, ask #2)

  /** Batch count of the incremental corpus-build fixture. */
  val CorpusIncrBatches = 3

  /** Auto-gate default for [[corpusBuildIncr]]'s exact-stage hash
    * broadcasts, in HASH ROWS (= batch docs surviving the quality
    * gate). A hash row is ~16 B unsafe, so 2M rows is a ~32 MB
    * broadcast — same sizing discipline as
    * [[Dedup.IncrBroadcastRows]]. Override with
    * `spark.graft.incrHashBroadcastRows`.
    */
  val IncrHashBroadcastRows = 2000000L

  /** Exact-copy id offsets of the ingest fixture. Chosen mod 3 so both
    * exact-dedup paths occur BY CONSTRUCTION: even docs' copies land
    * at +4e6 ≡ 1 (mod 3) — a DIFFERENT batch than the original, so one
    * of the two hits the standing hash set (whichever arrives second);
    * odd docs' copies land at +6e6 ≡ 0 (mod 3) — the SAME batch, so
    * within-batch keep-first fires. Variants (+1e6 ≡ 1 mod 3) likewise
    * straddle batches, so the near-dup stage hits the standing index.
    */
  val CopyIdOffsetCross = 4000000L
  val CopyIdOffsetSame = 6000000L

  /** The ingest stream: originals + drop-first-token variants (the
    * standard near-dup fixture, in TEXT form so the quality gate can
    * score them) + exact copies. Batch of a row = (doc_id % 3) + 1.
    */
  def corpusIncrFixture(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("text"))
    val toks = split(col("text"), " ")
    val variants = docs.filter(size(toks) > 3)
      .select((col("doc_id") + VariantIdOffset).as("doc_id"),
        array_join(slice(toks, lit(2), size(toks) - 1), " ").as("text"))
    val copies = docs.select(
      (col("doc_id") + when(col("doc_id") % 2 === 0,
        CopyIdOffsetCross).otherwise(CopyIdOffsetSame)).as("doc_id"),
      col("text"))
    src.unionByName(variants).unionByName(copies)
  }

  def corpusIncrBatch(docs: DataFrame, k: Int): DataFrame =
    corpusIncrFixture(docs).filter(pmod(col("doc_id"), lit(3)) === k - 1)

  /** INCREMENTAL corpus build (round-16 verdict #2): [[corpusBuild]]'s
    * capstone composition — structural quality gate, exact dedup,
    * near-dup keep-first — run the way a 100 TB pipeline actually
    * runs it: per ingest batch against STANDING state, not over the
    * full corpus each day. The standing state is two manifest-managed
    * tables under `dir` that always mirror the kept corpus exactly:
    * `hashes` (content hash per kept doc) and `lsh` (the banded
    * signature index, [[Dedup.lshIndexBuild]]).
    *
    * Per batch k: (1) gate on the structural Gopher rules; (2) exact
    * dedup — within-batch keep-first per content hash, then drop any
    * hash already standing (the probe broadcasts the BATCH hash set
    * into the standing scan, so the standing table is read map-only
    * and never shuffled); (3) [[Dedup.dedupBatchVsIndex]] against the
    * standing index (gated broadcast probe + file pruning, batch-internal
    * keep-first included); (4) append the kept docs' hashes and band
    * rows — each a versioned manifest commit. Output: one audit row
    * per batch with the per-stage survivor counts.
    *
    * Like [[Dedup.dedupIncrLoop]], the loop is driver-COORDINATED but
    * never driver-SIZED: per step the only driver values are the four
    * counts, and the only serial state is the two on-disk tables.
    * `dir` must be fresh (the bootstrap overwrites).
    */
  /** The exact stage's standing-set drop under the MEASURED broadcast
    * gate (round-16 verdict #4 — the [[Dedup.gatedBatchBands]]
    * pattern for the hash path): `nBatch` is an EXACT count off the
    * already-checkpointed batch frame (an upper bound on |firsts|),
    * never a config boolean. Under `spark.graft.incrHashBroadcastRows`
    * the batch's distinct hashes broadcast into the standing scan
    * (standing read map-only, never shuffled) and the standing HITS —
    * batch-bounded by the semi-join — broadcast back into the anti.
    * Past the gate (a backfill) both joins fall back to one plain
    * shuffled anti-join, survivors bit-identical.
    */
  private[ops] def exactVsStanding(firsts: DataFrame,
      standing: DataFrame, nBatch: Long): DataFrame = {
    val spark = firsts.sparkSession
    val gate = spark.conf.get("spark.graft.incrHashBroadcastRows",
      IncrHashBroadcastRows.toString).toLong
    if (nBatch <= gate) {
      val standingHits = standing
        .join(broadcast(firsts.select("h").distinct()), Seq("h"),
          "left_semi")
      firsts.join(broadcast(standingHits), Seq("h"), "left_anti")
    } else firsts.join(standing, Seq("h"), "left_anti")
  }

  /** App id stamping [[corpusBuildIncr]]'s per-batch commits on all
    * THREE standing tables (hashes, LSH, BM25) — the loop's own
    * cross-table transaction (round 18, same protocol as
    * [[kbApplyBatch]]): without it, a crash between the three appends
    * left the tables describing DIFFERENT corpora (hashes with batch
    * k, the band index without it ⇒ batch k+1's near-dup probe misses
    * docs its exact stage knows), and a naive re-run would re-derive
    * survivors against the half-advanced state — the re-probe of an
    * already-appended batch drops every doc as a standing dup.
    */
  private[ops] val CiTxnApp = "graft-corpus-incr-loop"

  /** Crash injection for the spec: `<k>:<table>` (table ∈ h|lsh)
    * kills the loop after batch k's commit on that table.
    */
  private[graft] val CiCrashConf = "spark.graft.corpusIncr.crashAfter"

  private def ciIntentDir(dir: String, k: Int) = s"$dir/txn/batch=$k"

  /** The ingest intent's declared schema: reading it under its schema
    * plans with no inference job.
    */
  private val CiIntentSchema = "doc_id BIGINT, text STRING, h BIGINT"

  def corpusBuildIncr(docs: DataFrame, dir: String,
      minSim: Double = 0.5, withBm25: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    // bootstrap: all state tables start EMPTY but committed (v1 with
    // a recorded schema), exactly the first-day-of-ingest shape —
    // manifest-only inits, no write job over an empty frame. Each
    // init is itself atomic, so a restart skips whatever landed.
    if (Manifest.currentVersion(spark, s"$dir/lsh/bands").isEmpty)
      Dedup.lshIndexInit(spark, s"$dir/lsh")
    // optional third standing table (round-16 verdict #3 meets #2):
    // the ingest loop ALSO maintains the persisted BM25 retrieval
    // index of the kept corpus — bootstrap empty, append kept per
    // batch, so decontamination probes always see the standing corpus
    if (withBm25 &&
        Manifest.currentVersion(spark, s"$dir/bm25/index").isEmpty)
      Bm25Index.init(spark, s"$dir/bm25")
    val hdir = s"$dir/hashes"
    if (Manifest.currentVersion(spark, hdir).isEmpty)
      Manifest.write(spark, hdir, Seq.empty, 1,
        schema =
          Some(org.apache.spark.sql.types.StructType.fromDDL("h BIGINT")))
    val perBatch = (1 to CorpusIncrBatches).map(
      ciStep(docs, dir, _, minSim, withBm25))
    import spark.implicits._
    perBatch.toDF("batch", "n_in", "n_quality", "n_exact", "n_final")
  }

  /** One [[corpusBuildIncr]] batch as a CROSS-TABLE transaction
    * ([[kbApplyBatch]]'s protocol, three-way): derive the survivors
    * ONLY when no table has the batch applied (the derivation is
    * valid solely against the pre-batch standing state), write the
    * intent — kept (doc_id, text, h) plus the audit counts — durably,
    * then commit each table's half stamped `txn:<CiTxnApp>=k`,
    * skipping halves a previous attempt already landed. A restart in
    * ANY window re-derives identically (nothing committed), rolls the
    * missing halves forward from the intent, or no-ops — and the
    * audit row always reports the ORIGINAL counts (from the intent
    * sidecar), never a recount against advanced state.
    *
    * The happy-path LSH append still reuses the probe's checkpointed
    * signatures (the one-minhash-pass contract); only the recovery
    * path re-derives them from the intent's text.
    */
  private def ciStep(docs: DataFrame, dir: String, k: Int,
      minSim: Double, withBm25: Boolean): (Int, Long, Long, Long, Long) = {
    val spark = docs.sparkSession
    val hdir = s"$dir/hashes"
    def appliedTo(table: String) =
      Manifest.lastTxnFor(spark, table, CiTxnApp).exists(_ >= k)
    val hDone = appliedTo(hdir)
    val lshDone = appliedTo(s"$dir/lsh/bands")
    val bmDone = withBm25 && appliedTo(s"$dir/bm25/index")
    val allDone = hDone && lshDone && (!withBm25 || bmDone)
    if (!allDone) withIngestLease(spark, dir) {
      ciStepBody(docs, dir, k, minSim, withBm25, hDone, lshDone, bmDone)
    }
    // every table has batch k applied: the intent DATA (kept docs'
    // full text) is dead weight — reclaim it and any straggler; the
    // audit sidecar stays, so a fully-replayed loop still reports the
    // original counts below
    retireIntents(spark, dir, k.toLong): Unit
    val counts = Dedup.readSidecar(spark,
      s"${ciIntentDir(dir, k)}.counts").getOrElse(
        sys.error(s"batch $k has commits but no intent sidecar — " +
          s"was ${ciIntentDir(dir, k)} deleted?"))
      .split(":").map(_.toLong)
    (k, counts(0), counts(1), counts(2), counts(3))
  }

  private def ciStepBody(docs: DataFrame, dir: String, k: Int,
      minSim: Double, withBm25: Boolean,
      hDone: Boolean, lshDone: Boolean, bmDone: Boolean): Unit = {
    val spark = docs.sparkSession
    val hdir = s"$dir/hashes"
    def crashpoint(tag: String): Unit =
      if (spark.conf.getOption(CiCrashConf).contains(s"$k:$tag"))
        throw new IllegalStateException(
          s"injected crash after batch $k's $tag commit ($CiCrashConf)")
    val anyDone = hDone || lshDone || bmDone
    // the probe's signatures, reusable by the happy-path LSH append
    var sigsKept: Option[DataFrame] = None
    if (!anyDone) {
      val batch = corpusIncrBatch(docs, k)
      // (1) structural gate — same rule subset as corpusBuild, run as
      // a MAP-ONLY filter on the batch itself (round 20): the flags
      // are row-local expressions ([[Analysis.gopherOkCols]] — the
      // exact Columns gopherFilter evaluates), so the old shape's
      // projected flag frame + orderBy + join-back-for-text paid a
      // range exchange and a join per ingest batch for a row-local
      // predicate. The batch row count (audit n_in) rides the same
      // materialization as an Observation instead of its own full
      // fixture-derivation scan.
      val (okWc, okMl, okSym, okAl, _) =
        Analysis.gopherOkCols(split(col("text"), " "))
      val obsIn = new org.apache.spark.sql.Observation(
        s"ci-nin-${java.util.UUID.randomUUID()}")
      // one materialization feeds the counts, the keep-first window,
      // the standing-hash probe, and the near stage
      val qc = Dedup.iterCheckpoint(
        batch.observe(obsIn, count(lit(1)).as("n"))
          .filter(okWc && okMl && okSym && okAl)
          .select(col("doc_id"), col("text"),
            H.hash60(col("text")).as("h")))
      val nQuality = qc.count()
      val nIn = Dedup.observedLong(obsIn)(batch.count())
      // (2) exact: within-batch keep-first, then standing-set drop
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("h").orderBy("doc_id")
      val firsts = qc.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val ec = Dedup.iterCheckpoint(
        exactVsStanding(firsts, Manifest.readTable(spark, hdir),
          nQuality))
      val nExact = ec.count()
      // (3) near-dup vs the standing index + within-batch keep-first;
      // the core form hands back the materialized signatures so the
      // append reuses the probe's one minhash pass
      // unsorted decisions: this loop only filters kept ids off the
      // materialization, so the query-facing doc_id sort would be two
      // wasted exchange stages per batch (round 19)
      val (dec0, sigs) = Dedup.dedupBatchVsIndexCore(
        ec.select(col("doc_id"), split(col("text"), " ").as("toks")),
        s"$dir/lsh", minSim, ordered = false)
      val dec = Dedup.iterCheckpoint(dec0)
      val keptIds = dec.filter(col("decision") === "kept").select("doc_id")
      val nFinal = keptIds.count()
      sigsKept = Some(sigs.join(keptIds, "doc_id"))
      // the write-ahead intent: kept docs + the audit counts
      ec.join(keptIds, "doc_id").select("doc_id", "text", "h")
        .write.mode("overwrite").parquet(ciIntentDir(dir, k))
      Dedup.writeSidecar(spark, s"${ciIntentDir(dir, k)}.counts",
        s"$nIn:$nQuality:$nExact:$nFinal")
    }
    // (4) the standing state mirrors the kept corpus exactly — each
    // half from the durable intent, stamped, skippable
    val intent = spark.read.schema(CiIntentSchema).parquet(ciIntentDir(dir, k))
    if (!hDone) {
      Layout.appendInPlace(spark, hdir, intent.select("h"),
        txnApp = Some((CiTxnApp, k.toLong))): Unit
      crashpoint("h")
    }
    if (!lshDone) {
      Dedup.lshIndexAppendFromSigs(
        sigsKept.getOrElse(Dedup.signaturesQ(
          intent.select(col("doc_id"),
            split(col("text"), " ").as("toks")))),
        s"$dir/lsh", txnApp = Some((CiTxnApp, k.toLong)))
      crashpoint("lsh")
    }
    if (withBm25 && !bmDone)
      Bm25Index.append(intent.select("doc_id", "text"), s"$dir/bm25",
        txnApp = Some((CiTxnApp, k.toLong)))
  }

  /** DuckDB oracle for [[corpusBuildIncr]]: the fixture, the gopher
    * metric CTE, the banded est pairs ([[Dedup.minhashEstCtes]]), and
    * the three probe/append steps UNROLLED — batch k's exact stage
    * drops hashes kept by batches < k, its near stage matches against
    * base-empty index ∪ kept(1..k-1), exactly the state the engine has
    * on disk when batch k arrives.
    */
  def corpusBuildIncrOracle(minSim: Double = 0.5): String =
    s"""WITH ${corpusBuildIncrCtes(minSim)}
       |SELECT k AS batch,
       |  (SELECT count(*) FROM fix WHERE doc_id % 3 = k - 1) AS n_in,
       |  (SELECT count(*) FROM okq WHERE b = k) AS n_quality,
       |  CASE k WHEN 1 THEN (SELECT count(*) FROM e1)
       |         WHEN 2 THEN (SELECT count(*) FROM e2)
       |         ELSE (SELECT count(*) FROM e3) END AS n_exact,
       |  CASE k WHEN 1 THEN (SELECT count(*) FROM d1)
       |         WHEN 2 THEN (SELECT count(*) FROM d2)
       |         ELSE (SELECT count(*) FROM d3) END AS n_final
       |FROM (SELECT unnest([1, 2, 3]) AS k)
       |ORDER BY batch""".stripMargin

  /** [[corpusBuildIncrOracle]]'s CTE chain (fixture, gopher gate,
    * banded est pairs, three unrolled probe/append steps ending in
    * the kept sets d1/d2/d3) — a named method so the BM25 composition
    * can extend the chain instead of substring-splicing the finished
    * SQL (round-16 advisor: an indexOf splice breaks silently when
    * the audit SELECT is reworded).
    */
  private[ops] def corpusBuildIncrCtes(minSim: Double): String = {
    // one step: exact survivors e$k, near-kept d$k, rolled-up state
    def step(k: Int, hashes: String, idx: String) =
      s"""e$k AS MATERIALIZED (SELECT f.* FROM firsts f
         |  WHERE f.b = $k AND NOT EXISTS
         |    (SELECT 1 FROM $hashes s WHERE s.h = f.h)),
         |c$k AS MATERIALIZED (SELECT DISTINCT s.d AS doc_id
         |  FROM sym s JOIN e$k ee ON s.d = ee.doc_id
         |             JOIN $idx i ON s.o = i.doc_id),
         |bb$k AS MATERIALIZED (SELECT DISTINCT g.id_b AS doc_id
         |  FROM good g JOIN e$k a ON g.id_a = a.doc_id
         |              JOIN e$k b2 ON g.id_b = b2.doc_id),
         |d$k AS MATERIALIZED (SELECT ee.* FROM e$k ee
         |  WHERE ee.doc_id NOT IN (SELECT doc_id FROM c$k)
         |    AND ee.doc_id NOT IN (SELECT doc_id FROM bb$k)),
         |hashes$k AS MATERIALIZED (SELECT h FROM $hashes
         |  UNION ALL SELECT h FROM d$k),
         |idx$k AS MATERIALIZED (SELECT doc_id FROM $idx
         |  UNION ALL SELECT doc_id FROM d$k)""".stripMargin
    s"""src AS MATERIALIZED (SELECT doc_id, text FROM documents),
       |fix AS MATERIALIZED (
       |  SELECT doc_id, text FROM src
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset,
       |    array_to_string(string_split(text, ' ')[2:], ' ')
       |  FROM src WHERE len(string_split(text, ' ')) > 3
       |  UNION ALL
       |  SELECT doc_id + CASE WHEN doc_id % 2 = 0
       |      THEN $CopyIdOffsetCross ELSE $CopyIdOffsetSame END, text
       |  FROM src),
       |t AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS toks FROM fix),
       |${Analysis.gopherMetricsCte},
       |okq AS MATERIALIZED (SELECT f.doc_id, (f.doc_id % 3) + 1 AS b,
       |    ${H.duckHash60("f.text")} AS h
       |  FROM fix f JOIN m USING (doc_id)
       |  WHERE ${Analysis.gopherStructuralCond}),
       |firsts AS MATERIALIZED (SELECT doc_id, b, h FROM (
       |    SELECT *, row_number() OVER (PARTITION BY b, h
       |      ORDER BY doc_id) AS rn FROM okq) WHERE rn = 1),
       |corpus AS MATERIALIZED (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
       |${Dedup.minhashEstCtes},
       |good AS MATERIALIZED (SELECT id_a, id_b FROM est WHERE est_sim >= $minSim),
       |sym AS MATERIALIZED (SELECT id_a AS d, id_b AS o FROM good
       |        UNION ALL SELECT id_b, id_a FROM good),
       |hashes0 AS MATERIALIZED (SELECT NULL::BIGINT AS h WHERE FALSE),
       |idx0 AS MATERIALIZED (SELECT NULL::BIGINT AS doc_id WHERE FALSE),
       |${step(1, "hashes0", "idx0")},
       |${step(2, "hashes1", "idx1")},
       |${step(3, "hashes2", "idx2")}""".stripMargin
  }

  /** The ingest loop WITH the retrieval index (round 16): run
    * [[corpusBuildIncr]] maintaining a third standing table — the
    * persisted BM25 inverted index ([[Bm25Index]]) of the kept corpus
    * — then PROBE it. The probe never re-tokenizes the corpus (it
    * reads the index's df partition + pruned postings buckets), yet
    * is bit-equal to a full BM25 recompute over exactly the kept set:
    * the oracle recomputes the three-batch keep decisions in SQL and
    * scores the kept docs from scratch. This is the standing-corpus
    * decontamination shape at 100 TB — per ingest batch the index
    * grows by one O(batch) versioned append, and retrieval probes
    * stay O(terms) regardless of corpus size.
    */
  def corpusBuildIncrBm25(docs: DataFrame, dir: String,
      minSim: Double = 0.5, nTerms: Int = 10, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    // the loop is eager (per-batch counts drive it); its audit frame
    // is pinned by ns_corpus_build_incr — here the INDEX is the output
    corpusBuildIncr(docs, dir, minSim, withBm25 = true).collect(): Unit
    Bm25Index.topDocs(spark, s"$dir/bm25", nTerms, k)
  }

  /** [[corpusBuildIncrOracle]]'s kept set, scored by
    * [[Analysis.bm25TopDocsCtes]] from scratch.
    */
  def corpusBuildIncrBm25Oracle(minSim: Double = 0.5, nTerms: Int = 10,
      k: Int = 3): String = {
    // the incremental oracle's CTE chain up to the kept sets d1/d2/d3,
    // extended with the retrieval scoring instead of the audit SELECT
    s"""WITH ${corpusBuildIncrCtes(minSim)},
       |kept AS (SELECT f.doc_id, f.text FROM fix f
       |  WHERE f.doc_id IN (SELECT doc_id FROM d1
       |    UNION ALL SELECT doc_id FROM d2
       |    UNION ALL SELECT doc_id FROM d3)),
       |${Analysis.bm25TopDocsCtes(nTerms, k, "kept")}
       |SELECT token, rn, doc_id, score FROM ranked WHERE rn <= $k
       |ORDER BY token, rn""".stripMargin
  }

  /** The keep-best ingest loop with BOTH standing indexes maintained
    * (round-16 verdict #2's composition gap, closed): per batch,
    * [[Dedup.dedupBatchVsIndexKeepBestApply]] arbitrates quality
    * against the LSH index — and every corpus doc a replacement
    * displaces is now ALSO un-indexed from the BM25 retrieval index
    * ([[Bm25Index.delete]]: tombstone + negative df/dl corrections in
    * one atomic commit) before the batch's kept + replacement docs
    * append. Until round 17 the two round-16 features were mutually
    * exclusive by omission: composing keep-best with `withBm25` would
    * have left the displaced docs' postings and df/dl contributions
    * silently scoring forever.
    *
    * Output: the BM25 top-docs probe over the post-replacement
    * standing corpus — bit-equal to a from-scratch BM25 recompute
    * over exactly the docs the keep-best recursion kept (the oracle
    * unrolls all three batches in SQL, replacements included).
    *
    * Scale posture: inherits the probe's gated broadcast + file pruning and
    * the delete's one-postings-pass maintenance cost; the loop is
    * driver-coordinated, never driver-sized. `dir` must be fresh.
    */
  /** App id stamping the keep-best loop's per-batch commits on BOTH
    * standing indexes ([[Manifest.lastTxnFor]] watermarks) — the
    * cross-index ingest TRANSACTION (round-17 verdict #1): without a
    * spanning marker, a crash between the LSH commit and the BM25
    * commit stranded the displaced docs' postings live in the
    * retrieval index forever.
    */
  private[ops] val KbTxnApp = "graft-kb-bm25-loop"

  /** Crash-injection point for the transaction spec: set to batch b to
    * kill the loop AFTER batch b's LSH commit and BEFORE its BM25
    * commit — the exact torn window the txn protocol exists to heal.
    */
  private[graft] val KbCrashConf = "spark.graft.kb.crashAfterLshCommit"

  private def kbIntentDir(dir: String, b: Long) = s"$dir/txn/batch=$b"

  /** The keep-best intent, read under its declared schema (no
    * inference job): `role` is `doom` (a displaced standing id, empty
    * text) or `keep` (a winner, its text, and the signature and
    * quality its LSH band rows derive from).
    */
  private def kbIntent(spark: org.apache.spark.sql.SparkSession,
      dir: String, b: Long): DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING, role STRING, " +
        "sig ARRAY<BIGINT>, quality DOUBLE")
      .parquet(kbIntentDir(dir, b))

  /** Lease window for [[withIngestLease]] — override with
    * `spark.graft.ingest.leaseMs`.
    */
  private[graft] val IngestLeaseMsConf = "spark.graft.ingest.leaseMs"

  /** Single-writer guard on a standing-index directory's ingest
    * transactions (round-18 verdict #7): the write-ahead intent lives
    * at a per-batch-id path and the counter read-modify-writes assume
    * one loop per `dir` — a SECOND concurrent loop would silently
    * overwrite the first one's intent before any snapshot commit
    * collides. Each transaction body (one batch / one micro-batch
    * epoch) claims `dir/txn/_lease` exclusively for its duration, so
    * a true concurrent writer fails FAST with a diagnostic instead of
    * interleaving. Crash behavior: an in-JVM failure releases in the
    * `finally`; a hard process kill leaves the lease, and a restart
    * inside the lease window fails loudly rather than guessing the
    * old writer is dead — takeover happens only past the window
    * (the [[Manifest.claimVersion]] lease pattern). Two FS calls per
    * batch — never a Spark job.
    */
  private def withIngestLease[T](spark: org.apache.spark.sql.SparkSession,
      dir: String)(body: => T): T = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/txn/_lease")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val owner = java.util.UUID.randomUUID().toString
    val leaseMs = spark.conf.getOption(IngestLeaseMsConf)
      .map(_.toLong).getOrElse(Manifest.DefaultLeaseMs)
    if (!Manifest.createExclusive(fs, p, owner)) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime
      if (age < leaseMs) throw new java.util.ConcurrentModificationException(
        s"another ingest loop/stream holds the write lease on $dir " +
          s"($p, age ${age}ms < lease ${leaseMs}ms): the cross-index " +
          "transactions assume a single writer per directory — stop " +
          "the other writer, or if it crashed hard wait out the lease " +
          s"(override $IngestLeaseMsConf)")
      fs.delete(p, false)
      if (!Manifest.createExclusive(fs, p, owner))
        throw new java.util.ConcurrentModificationException(
          s"lost the ingest-lease takeover race on $dir — retry")
    }
    try body finally {
      // release only if still ours — a takeover may have superseded us
      val mine =
        try {
          val len = fs.getFileStatus(p).getLen.toInt
          val buf = new Array[Byte](len)
          val in = fs.open(p)
          try in.readFully(buf) finally in.close()
          new String(buf, "UTF-8") == owner
        } catch { case _: java.io.IOException => false }
      if (mine) fs.delete(p, false): Unit
    }
  }

  /** Reclaim write-ahead intents up to batch id `upTo` (round-18
    * verdict #1): once every standing table's watermark has passed a
    * batch id, its intent — which holds the winners' FULL TEXT — is
    * dead weight; without reclamation the streaming ingest (one intent
    * per micro-batch epoch) asymptotically accumulates a second copy
    * of every kept document ever ingested. Deletes only the
    * `batch=<id>` DIRECTORIES; the tiny `batch=<id>.counts` audit
    * sidecars stay (a fully-replayed [[corpusBuildIncr]] still reports
    * the original counts). Returns intents reclaimed.
    */
  private[graft] def retireIntents(spark: org.apache.spark.sql.SparkSession,
      dir: String, upTo: Long): Int = {
    val txn = new org.apache.hadoop.fs.Path(s"$dir/txn")
    val fs = txn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(txn)) return 0
    var n = 0
    fs.listStatus(txn).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("batch="))
        name.stripPrefix("batch=").toLongOption.foreach { id =>
          if (id <= upTo && fs.delete(st.getPath, true)) n += 1
        }
    }
    n
  }

  /** Maintenance backstop for intents a crashed loop never retired:
    * reclaim every intent whose batch id has been applied to ALL of
    * the directory's standing tables (their app-scoped txn watermarks
    * — a table with no watermark yet keeps everything). Run alongside
    * the indexes' vacuum in the maintenance window; the happy path
    * already retires inline at the end of each transaction.
    */
  def vacuumIntents(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int = {
    val txn = new org.apache.hadoop.fs.Path(s"$dir/txn")
    val fs = txn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(txn)) return 0
    val tables = Seq(s"$dir/hashes", s"$dir/lsh/bands", s"$dir/bm25/index")
      .filter(t => Manifest.currentVersion(spark, t).isDefined)
    if (tables.isEmpty) return 0
    val upTo = tables.map(t =>
      Manifest.txnAppWatermarks(spark, t).values
        .foldLeft(-1L)(math.max)).min
    if (upTo < 0L) 0 else retireIntents(spark, dir, upTo)
  }

  def corpusKeepBestBm25(docs: DataFrame, dir: String,
      minSim: Double = 0.5, nTerms: Int = 10, k: Int = 3,
      masterDir: Option[String] = None,
      corpusId: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val base = Dedup.incrLoopBase(docs)
    val baseText = base.select(col("doc_id"),
      array_join(col("toks"), " ").as("text"))
    // bootstrap is RESUMABLE: a restart after a crash skips whatever
    // already committed (each build is itself atomic — geometry
    // sidecar + v1 manifest land last)
    val lshUp = Manifest.currentVersion(spark, s"$dir/lsh/bands").isDefined
    val bmUp = Manifest.currentVersion(spark, s"$dir/bm25/index").isDefined
    // stale-master guard identity: the caller's (round 19 — e.g. a
    // source-file fingerprint or a manifest snapshotIdentity, zero
    // Spark jobs), else ONE content fingerprint scan shared by both
    // standing tables — the old per-fresh scans tokenized the base
    // corpus twice per setup for the same identity
    def fp = corpusId.getOrElse(Dedup.corpusFingerprint(base))
    // fresh MUTABLE standing tables: clone build-once masters when a
    // master dir is given (measured faster than rebuilding at every
    // SF — PLANS.md round 17), plain builds otherwise
    masterDir match {
      case Some(m) =>
        lazy val id = Some(fp)
        if (!lshUp) Dedup.lshIndexFresh(base, s"$m/lsh", s"$dir/lsh", id)
        if (!bmUp) Bm25Index.fresh(baseText, s"$m/bm25", s"$dir/bm25", id)
      case None =>
        if (!lshUp) Dedup.lshIndexBuild(base, s"$dir/lsh")
        if (!bmUp) Bm25Index.build(baseText, s"$dir/bm25")
    }
    (1 to Dedup.IncrLoopBatches).foreach(kbStep(docs, dir, _, minSim))
    Bm25Index.topDocs(spark, s"$dir/bm25", nTerms, k)
  }

  /** One keep-best batch as a CROSS-INDEX TRANSACTION. The protocol:
    *
    *   1. decide — probe the LSH index; deterministic for a fixed
    *      index state ([[Dedup.dedupBatchVsIndexKeepBestDecide]]);
    *   2. write the INTENT — doomed standing ids + the winners' text
    *      and signatures — durably under `dir/txn/batch=b` BEFORE
    *      either commit (the write-ahead record both halves apply
    *      from);
    *   3. commit the LSH half, stamped `txn:<KbTxnApp>=b`;
    *   4. commit the BM25 half FROM THE INTENT, same stamp.
    *
    * Every crash window heals on restart: before (3), the standing
    * index is unchanged so the re-run derives the identical plan and
    * re-writes the identical intent; between (3) and (4) — the torn
    * state that used to strand displaced postings live — the LSH
    * watermark says b is applied, so the restart skips (1)-(3) and
    * rolls the BM25 half forward from the intent; after (4), both
    * watermarks say b and the step no-ops. Both commits are
    * app-scoped-replay no-ops, so a DOUBLE restart is safe too. The
    * BM25 half reads the intent even on the happy path — one code
    * path, so the recovery branch is exercised by every run.
    */
  private def kbStep(docs: DataFrame, dir: String, b: Int,
      minSim: Double): Unit =
    kbApplyBatch(Dedup.incrLoopBatch(docs, b), dir, b.toLong, minSim,
      KbTxnApp)

  /** The transaction body over an ARBITRARY `(doc_id, toks)` batch —
    * shared by the batch loop (batch id = loop step) and the STREAMING
    * ingest ([[graft.streaming.KeepBestStream]], batch id = micro-
    * batch epoch; a foreachBatch re-delivery after a crash or restart
    * replays the same id and heals exactly like a loop restart).
    * The canonical >=3-token gate applies HERE so both ingest forms
    * filter identically; the body runs under the per-directory
    * [[withIngestLease]] single-writer guard; and once both
    * watermarks pass `b` the batch's write-ahead intent is retired
    * inline ([[retireIntents]]) — a long-running stream holds at most
    * the newest epoch's intent, never a second copy of the corpus.
    */
  private[graft] def kbApplyBatch(batch0: DataFrame, dir: String, b: Long,
      minSim: Double, app: String): Unit = {
    val spark = batch0.sparkSession
    // ONE canonical short-doc gate for BOTH ingest forms (round-18
    // advisor: the stream applied >=3 tokens, the batch loop didn't —
    // identical input could diverge between the two); the fixture
    // corpus is pre-gated, so loop results are unchanged
    val batch = batch0.filter(size(col("toks")) >= 3)
    val lshDone = Manifest
      .lastTxnFor(spark, s"$dir/lsh/bands", app).exists(_ >= b)
    val bmDone = Manifest
      .lastTxnFor(spark, s"$dir/bm25/index", app).exists(_ >= b)
    if (lshDone && bmDone) return
    withIngestLease(spark, dir) {
      kbApplyBatchBody(batch, dir, b, minSim, app, lshDone)
    }
    // both watermarks now >= b: this batch's intent (and any straggler
    // an earlier crash left) is dead weight — reclaim inline. A replay
    // of a retired batch returns at the watermark check above, before
    // the intent is ever read.
    retireIntents(spark, dir, b): Unit
  }

  private def kbApplyBatchBody(batch: DataFrame, dir: String, b: Long,
      minSim: Double, app: String, lshDone: Boolean): Unit = {
    val spark = batch.sparkSession
    if (!lshDone) {
      val dec = Dedup.dedupBatchVsIndexKeepBestDecide(batch, s"$dir/lsh",
        minSim)
      // (2) the write-ahead intent: displaced ids + winners' text and
      // signatures — the ONE materialization of the probe and the
      // decisions, every row from one pass over them: a winner's keep
      // row, and the doom rows of the corpus docs a replacement
      // displaces (repeats allowed — both halves dedup the ids)
      val winner = col("decision").isin("kept", "replaced_corpus")
      val displaced = coalesce(
        when(col("decision") === "replaced_corpus", col("matched")),
        typedLit(Seq.empty[Long]))
      dec.select(explode(concat(
          filter(array(struct(col("doc_id"),
            array_join(col("toks"), " ").as("text"), lit("keep").as("role"),
            col("sig"), col("quality"))), _ => winner),
          transform(displaced, id => struct(id.as("doc_id"),
            lit("").as("text"), lit("doom").as("role"),
            lit(null).cast("array<bigint>").as("sig"),
            lit(null).cast("double").as("quality"))))).as("r"))
        .select("r.*")
        .write.mode("overwrite").parquet(kbIntentDir(dir, b))
      // (3) LSH half, from the intent
      val intent = kbIntent(spark, dir, b)
      Dedup.dedupBatchVsIndexKeepBestCommit(
        intent.filter(col("role") === "keep")
          .select("doc_id", "sig", "quality"),
        intent.filter(col("role") === "doom").select("doc_id"),
        s"$dir/lsh", Some((app, b)))
      if (spark.conf.getOption(KbCrashConf).contains(b.toString))
        throw new IllegalStateException(
          s"injected crash after batch $b's LSH commit ($KbCrashConf)")
    }
    // (4) BM25 half, from the durable intent — identical on the happy
    // path and the roll-forward path
    val intent = kbIntent(spark, dir, b)
    Bm25Index.deleteAndAppend(
      intent.filter(col("role") === "doom").select("doc_id"),
      intent.filter(col("role") === "keep").select("doc_id", "text"),
      s"$dir/bm25", txnApp = Some((app, b)))
  }

  /** DuckDB oracle for [[corpusKeepBestBm25]]: the three keep-best
    * probe/apply steps UNROLLED — batch b's matches are taken against
    * standing(b-1) = base minus every displaced doc plus every
    * kept/replaced append, exactly the index state on disk when batch
    * b arrives — then the FINAL standing corpus is scored from
    * scratch with [[Analysis.bm25TopDocsCtes]].
    */
  def corpusKeepBestBm25Oracle(minSim: Double = 0.5, nTerms: Int = 10,
      k: Int = 3): String = {
    def in(b: Int) = Dedup.loopResidues(b).mkString(", ")
    // one keep-best step: decisions of batch b against standing s{b-1}
    def step(b: Int, s: String) =
      s"""cm$b AS MATERIALIZED (SELECT s.d AS doc_id, s.o AS corpus_id, qo.quality AS q_c
         |  FROM sym s JOIN m md ON s.d = md.doc_id AND md.b = $b
         |             JOIN $s i ON s.o = i.doc_id
         |             JOIN q qo ON s.o = qo.doc_id),
         |best$b AS MATERIALIZED (SELECT doc_id, corpus_id AS best_id, q_c AS best_q
         |  FROM (SELECT doc_id, corpus_id, q_c,
         |          row_number() OVER (PARTITION BY doc_id
         |            ORDER BY q_c DESC, corpus_id ASC) AS rn
         |        FROM cm$b) WHERE rn = 1),
         |bb$b AS MATERIALIZED (SELECT g.id_b AS doc_id, min(g.id_a) AS dup_batch
         |  FROM good g JOIN m ma ON g.id_a = ma.doc_id AND ma.b = $b
         |              JOIN m mb ON g.id_b = mb.doc_id AND mb.b = $b
         |  GROUP BY 1),
         |dec$b AS MATERIALIZED (SELECT mm.doc_id,
         |    CASE WHEN t.best_id IS NOT NULL AND qd.quality > t.best_q
         |           THEN 'replaced_corpus'
         |         WHEN t.best_id IS NOT NULL THEN 'dup_corpus'
         |         WHEN d.dup_batch IS NOT NULL THEN 'dup_batch'
         |         ELSE 'kept' END AS decision
         |  FROM m mm JOIN q qd ON mm.doc_id = qd.doc_id
         |            LEFT JOIN best$b t ON mm.doc_id = t.doc_id
         |            LEFT JOIN bb$b d ON mm.doc_id = d.doc_id
         |  WHERE mm.b = $b),
         |rm$b AS MATERIALIZED (SELECT DISTINCT c.corpus_id AS doc_id FROM cm$b c
         |  JOIN dec$b dd ON c.doc_id = dd.doc_id
         |  WHERE dd.decision = 'replaced_corpus'),
         |s$b AS MATERIALIZED (SELECT doc_id FROM $s
         |    WHERE doc_id NOT IN (SELECT doc_id FROM rm$b)
         |  UNION ALL SELECT doc_id FROM dec$b
         |    WHERE decision IN ('kept', 'replaced_corpus'))""".stripMargin
    s"""WITH base AS (SELECT doc_id, text,
       |    string_split(text, ' ') AS toks FROM documents),
       |corpus AS MATERIALIZED (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + ${Dedup.VariantIdOffset}, toks[2:]
       |  FROM base WHERE len(toks) > 3),
       |${Dedup.minhashEstCtes},
       |${Dedup.qualityCte},
       |m AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN doc_id % 60 IN (${in(1)}) THEN 1
       |         WHEN doc_id % 60 IN (${in(2)}) THEN 2
       |         WHEN doc_id % 60 IN (${in(3)}) THEN 3 ELSE 0 END AS b
       |  FROM corpus),
       |good AS MATERIALIZED (SELECT id_a, id_b FROM est WHERE est_sim >= $minSim),
       |sym AS MATERIALIZED (SELECT id_a AS d, id_b AS o FROM good
       |        UNION ALL SELECT id_b, id_a FROM good),
       |s0 AS MATERIALIZED (SELECT doc_id FROM m WHERE b = 0),
       |${step(1, "s0")},
       |${step(2, "s1")},
       |${step(3, "s2")},
       |txt AS MATERIALIZED (
       |  SELECT doc_id, text FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + ${Dedup.VariantIdOffset},
       |    array_to_string(toks[2:], ' ')
       |  FROM base WHERE len(toks) > 3),
       |kept AS MATERIALIZED (SELECT t.doc_id, t.text FROM txt t
       |  WHERE t.doc_id IN (SELECT doc_id FROM s3)),
       |${Analysis.bm25TopDocsCtes(nTerms, k, "kept")}
       |SELECT token, rn, doc_id, score FROM ranked WHERE rn <= $k
       |ORDER BY token, rn""".stripMargin
  }

  /** Deterministic per-source (domain-mix) sampling: each source
    * shard gets a reproducible keep-rate derived from its name, and
    * each doc a reproducible keep/drop from md5 hash arithmetic — the
    * stateless, coordination-free way to hit a target domain mixture
    * at any scale (re-running, or running on a different cluster,
    * keeps exactly the same docs). Reports per-source totals.
    */
  def sourceSample(docs: DataFrame): DataFrame = {
    val rate = ((H.hash60(col("source")) % 9 + 1).cast("double") / 10.0)
    val keep = H.hash60(concat(col("source"), lit("|"),
      col("doc_id").cast("string"))) % 10000 < rate * 10000
    docs.select(col("source"), col("doc_id"), rate.as("rate"), keep.as("keep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        first(col("rate")).as("rate"))
      .orderBy("source")
  }

  /** Token-budget domain mixing (round 15): the data-mixing step
    * between dedup and training — each source gets a TOKEN budget
    * (not a doc-count rate: mixing weights are specified in tokens),
    * docs are ranked inside their source by a deterministic hash
    * (stateless reproducible shuffle, same order on any cluster or
    * rerun), and the source is cut where the running token sum
    * crosses its budget. Budgets here derive from the source name
    * ((hash60 % 5 + 1) x 2000 tokens) so both engines compute them
    * from the data alone. Output: one audit row per source — budget,
    * total and kept docs/tokens.
    *
    * Scale shape: the running sum is a TWO-STAGE prefix sum like the
    * flagship top-p cut ([[Text.topPMassCut]]), generalized per
    * group — but the slice id is a DETERMINISTIC hash-range function
    * (`pid = h >> (60 - log2(MixSlices))`: hash60 is uniform in
    * [0, 2^60), so fixed arithmetic ranges are balanced without
    * boundary sampling), not `spark_partition_id` after a sampled
    * repartitionByRange. That removes the persist the sampled form
    * needed to keep its two consumers' pids consistent (round-16
    * verdict #5: the cached doc frame leaked to the caller until a
    * driver GC): both branches recompute the pure projection and
    * agree by construction, nothing is cached, and the result is
    * invariant to the slice count because prefix-sum composition is
    * associative. Per-(slice, source) local running sums run in
    * parallel, then a broadcast offsets table of MixSlices x sources
    * rows — no per-source window funnels a whole domain (at 100 TB,
    * possibly most of the corpus) through one task.
    */
  val MixSlices = 256

  def tokenBudgetMix(docs: DataFrame, budgetPer: Long = 2000L,
      budgetMod: Int = 5): DataFrame = {
    val shiftBits = 60 - (63 - java.lang.Long.numberOfLeadingZeros(
      MixSlices.toLong))
    val d = docs.select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ntok"),
        H.hash60(concat(col("source"), lit("|"),
          col("doc_id").cast("string"))).as("h"))
      .withColumn("pid", shiftright(col("h"), shiftBits).cast("int"))
    val local = Window.partitionBy("pid", "source")
      .orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRun = d.withColumn("local_run", sum("ntok").over(local))
    val prior = Window.partitionBy("source").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("pid", "source").agg(sum("ntok").as("part_sum"))
      .select(col("pid"), col("source"),
        coalesce(sum("part_sum").over(prior), lit(0L)).as("off"))
    val budget = (H.hash60(col("source")) % budgetMod + 1) * lit(budgetPer)
    withRun.join(broadcast(offsets), Seq("pid", "source"))
      .withColumn("run", col("off") + col("local_run"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"), sum("ntok").as("tokens_total"),
        sum(when(col("run") <= budget, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("run") <= budget, col("ntok")).otherwise(0L))
          .as("tokens_kept"))
      .select(col("source"), budget.as("budget"), col("n_total"),
        col("tokens_total"), col("n_kept"), col("tokens_kept"))
      .orderBy("source")
  }

  /** Same hash order, budgets, and cut rule, literal for literal, as
    * [[tokenBudgetMix]] — with a plain per-source window (the oracle
    * can afford the single-task funnel).
    */
  def tokenBudgetMixOracle(budgetPer: Long = 2000L,
      budgetMod: Int = 5): String = {
    val h = H.duckHash60("source || '|' || doc_id::VARCHAR")
    val budget = s"(${H.duckHash60("source")} % $budgetMod + 1) * $budgetPer"
    s"""WITH d AS (SELECT source, doc_id,
       |    len(string_split(text, ' '))::BIGINT AS ntok, $h AS h
       |  FROM documents),
       |r AS (SELECT *, sum(ntok) OVER (PARTITION BY source
       |    ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM d)
       |SELECT source, $budget AS budget,
       |  count(*) AS n_total,
       |  CAST(sum(ntok) AS BIGINT) AS tokens_total,
       |  CAST(sum(CASE WHEN run <= $budget THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN run <= $budget THEN ntok ELSE 0 END) AS BIGINT)
       |    AS tokens_kept
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  /** Deterministic train/val/test split (90/5/5): each doc's split is
    * pure salted-hash arithmetic on its id — stateless and
    * coordination-free, so ANY worker (or engine, or rerun, or a
    * different cluster) assigns the same doc to the same split, and
    * an appended batch never reshuffles existing assignments. The
    * report is per (source, split) so stratification is auditable:
    * hash uniformity gives each source the same 90/5/5 in
    * expectation. At 100 TB this is a map-side-combined count — no
    * doc-level shuffle at all.
    */
  def splitAssign(docs: DataFrame): DataFrame = {
    val bucket = H.hash60(concat(lit("sp_"), col("doc_id").cast("string"))) % 100
    val split = when(bucket < 90, "train")
      .when(bucket < 95, "val").otherwise("test")
    docs.select(col("source"), split.as("split"), col("n_chars"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("source", "split")
  }

  def splitAssignOracle: String = {
    val bucket = s"(${H.duckHash60("'sp_' || doc_id::VARCHAR")} % 100)"
    s"""SELECT source,
       |  CASE WHEN $bucket < 90 THEN 'train'
       |       WHEN $bucket < 95 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars
       |FROM documents
       |GROUP BY 1, 2 ORDER BY source, split""".stripMargin
  }

  /** Domain-mix plan toward a UNIFORM target share per source: the
    * standard single-epoch-capped reweighting. With natural token
    * mass t_s (n_chars proxy, exact integer sums), target share
    * 1/K, and c = min_s(share_s / target), every source keeps
    * rate_s = c * target / share_s of its tokens (<= 1 by
    * construction, = 1 for the scarcest source), which lands the
    * sampled corpus EXACTLY on the target mixture without repeating
    * any document. Everything derives from two integer aggregates
    * (per-source mass + source count), so the plan is one
    * map-side-combined pass + an O(K) broadcast-size reduction; the
    * keep/drop decisions themselves would reuse [[sourceSample]]'s
    * hash arithmetic with these rates.
    */
  def domainMix(docs: DataFrame): DataFrame = {
    val bySrc = docs.groupBy("source").agg(sum("n_chars").as("toks"))
    val w = Window.partitionBy()
    val withTot = bySrc
      .withColumn("total", sum("toks").over(w))
      .withColumn("target", lit(1.0) / count(lit(1)).over(w))
      .withColumn("share", col("toks").cast("double") / col("total"))
    val rated = withTot
      .withColumn("c", min(col("share") / col("target")).over(w))
      .withColumn("rate",
        round(col("c") * col("target") / col("share"), 6))
    rated.select(col("source"), col("toks"),
        round(col("share"), 6).as("natural_share"),
        round(col("target"), 6).as("target_share"),
        col("rate"),
        round(col("rate") * col("toks")).cast("long").as("sampled_toks"))
      .orderBy("source")
  }

  def domainMixOracle: String =
    s"""WITH by_src AS (SELECT source, sum(n_chars)::BIGINT AS toks
       |    FROM documents GROUP BY source),
       |wide AS (SELECT source, toks,
       |    sum(toks) OVER () AS total,
       |    1.0 / count(*) OVER () AS target,
       |    toks::DOUBLE / sum(toks) OVER () AS share
       |  FROM by_src),
       |rated AS (SELECT source, toks, share, target,
       |    round(min(share / target) OVER () * target / share, 6) AS rate
       |  FROM wide)
       |SELECT source, toks,
       |  round(share, 6) AS natural_share,
       |  round(target, 6) AS target_share,
       |  rate,
       |  round(rate * toks)::BIGINT AS sampled_toks
       |FROM rated ORDER BY source""".stripMargin

  def sourceSampleOracle: String = {
    val rate = s"((${H.duckHash60("source")} % 9 + 1) / 10.0)"
    val keep = s"(${H.duckHash60("source || '|' || doc_id::VARCHAR")} % 10000) < $rate * 10000"
    s"""SELECT source, count(*) AS n_total,
       |  sum(CASE WHEN $keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  $rate AS rate
       |FROM documents
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** Temperature-scaled domain mixing: target shares proportional to
    * share^alpha (alpha < 1 upweights small sources — the standard
    * multilingual/multi-domain sampling scheme), single-epoch-capped
    * exactly like [[domainMix]] (the binding source gets rate 1.0,
    * everything else scales down). The pow() output is rounded to
    * 6dp and quantized to integer micro-units before normalization,
    * so the share sum is exact integer arithmetic — window-fold-order
    * and engine independent — and only per-row double division
    * remains, which is IEEE-identical in both engines.
    */
  def domainMixAlpha(docs: DataFrame, alpha: Double = 0.3): DataFrame = {
    val bySrc = docs.groupBy("source").agg(sum("n_chars").as("toks"))
    val w = Window.partitionBy()
    val shares = bySrc
      .withColumn("total", sum("toks").over(w))
      .withColumn("share", col("toks").cast("double") / col("total"))
      .withColumn("t_int",
        round(round(pow(col("share"), lit(alpha)), 6) * 1e6).cast("long"))
      .withColumn("t_norm",
        col("t_int").cast("double") / sum("t_int").over(w))
    shares
      .withColumn("c", min(col("share") / col("t_norm")).over(w))
      .withColumn("rate", round(col("c") * col("t_norm") / col("share"), 6))
      .select(col("source"), col("toks"),
        round(col("share"), 6).as("natural_share"),
        round(col("t_norm"), 6).as("alpha_share"),
        col("rate"),
        round(col("rate") * col("toks")).cast("long").as("sampled_toks"))
      .orderBy("source")
  }

  def domainMixAlphaOracle(alpha: Double = 0.3): String =
    s"""WITH by_src AS (SELECT source, sum(n_chars)::BIGINT AS toks
       |    FROM documents GROUP BY source),
       |shares AS (SELECT source, toks,
       |    toks::DOUBLE / sum(toks) OVER () AS share,
       |    round(round(pow(toks::DOUBLE / sum(toks) OVER (), $alpha), 6)
       |      * 1000000)::BIGINT AS t_int
       |  FROM by_src),
       |normed AS (SELECT source, toks, share,
       |    t_int::DOUBLE / sum(t_int) OVER () AS t_norm
       |  FROM shares),
       |rated AS (SELECT source, toks, share, t_norm,
       |    round(min(share / t_norm) OVER () * t_norm / share, 6) AS rate
       |  FROM normed)
       |SELECT source, toks,
       |  round(share, 6) AS natural_share,
       |  round(t_norm, 6) AS alpha_share,
       |  rate,
       |  round(rate * toks)::BIGINT AS sampled_toks
       |FROM rated ORDER BY source""".stripMargin

  /** Incremental (materialized-view) aggregation: the per-source
    * corpus profile maintained as BASE-view partials merged with a
    * DELTA batch's partials, instead of recomputed over everything.
    * Every statistic is kept in its mergeable form — counts and sums,
    * with the mean derived only at read time — which is the entire
    * discipline of view maintenance: a 100 TB corpus's nightly batch
    * costs O(delta + |view|), not O(corpus). The oracle computes the
    * same profile DIRECTLY over the full table, so the hash match is
    * the proof that merge(base, delta) = recompute(all).
    */
  def incrementalAgg(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    def partials(df: DataFrame) = df.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        max("n_toks").as("max_toks"))
    val base = partials(toks.filter(col("doc_id") % 10 =!= 0))
    val delta = partials(toks.filter(col("doc_id") % 10 === 0))
    base.unionByName(delta)
      .groupBy("source")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        max("max_toks").as("max_toks"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("max_toks"),
        round(col("n_tokens").cast("double") / col("n_docs"), 6)
          .as("avg_toks"))
      .orderBy("source")
  }

  def incrementalAggOracle: String =
    """WITH t AS (SELECT source, len(string_split(text, ' '))::BIGINT
      |    AS n_toks FROM documents)
      |SELECT source, count(*) AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
      |  max(n_toks) AS max_toks,
      |  round(sum(n_toks)::DOUBLE / count(*), 6) AS avg_toks
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** Snapshot diff (data versioning): compare corpus v2 against v1 by
    * content hash and report per-source added/removed/changed/
    * unchanged counts. v2 is derived deterministically from v1 inside
    * the query (every 17th doc dropped, every 13th rewritten, a block
    * of new ids appended) so both engines see the same two snapshots.
    * The diff itself is ONE full-outer join on doc_id comparing
    * fixed-width hashes — O(n) shuffle of 16-byte rows, never text,
    * which is what makes a 100 TB snapshot audit routine.
    */
  def snapshotDiff(docs: DataFrame): DataFrame = {
    val fp = H.hash60(concat_ws("|", col("doc_id"), col("text")))
    val v1 = docs.select(col("source"), col("doc_id"), fp.as("h1"))
    val v2base = docs.filter(col("doc_id") % 17 =!= 0)
      .select(col("source"), col("doc_id"),
        when(col("doc_id") % 13 === 0,
          H.hash60(concat_ws("|", col("doc_id"), upper(col("text")))))
          .otherwise(fp).as("h2"))
    val v2new = docs.filter(col("doc_id") % 25 === 0)
      .select(col("source"), (col("doc_id") + lit(VariantIdOffset)).as("doc_id"),
        fp.as("h2"))
    val v2 = v2base.unionByName(v2new)
    v1.join(v2, Seq("source", "doc_id"), "full_outer")
      .select(col("source"),
        when(col("h1").isNull, lit("added"))
          .when(col("h2").isNull, lit("removed"))
          .when(col("h1") === col("h2"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
      .groupBy("source", "status").agg(count(lit(1)).as("n"))
      .orderBy("source", "status")
  }

  def snapshotDiffOracle: String = {
    val fp = H.duckHash60("doc_id::VARCHAR || '|' || text")
    val fpUp = H.duckHash60("doc_id::VARCHAR || '|' || upper(text)")
    s"""WITH v1 AS (SELECT source, doc_id, $fp AS h1 FROM documents),
       |v2 AS (
       |  SELECT source, doc_id,
       |    CASE WHEN doc_id % 13 = 0 THEN $fpUp ELSE $fp END AS h2
       |  FROM documents WHERE doc_id % 17 <> 0
       |  UNION ALL
       |  SELECT source, doc_id + $VariantIdOffset, $fp
       |  FROM documents WHERE doc_id % 25 = 0),
       |joined AS (
       |  SELECT coalesce(v1.source, v2.source) AS source,
       |    CASE WHEN h1 IS NULL THEN 'added'
       |         WHEN h2 IS NULL THEN 'removed'
       |         WHEN h1 = h2 THEN 'unchanged'
       |         ELSE 'changed' END AS status
       |  FROM v1 FULL OUTER JOIN v2
       |    ON v1.source = v2.source AND v1.doc_id = v2.doc_id)
       |SELECT source, status, count(*) AS n
       |FROM joined GROUP BY source, status ORDER BY source, status""".stripMargin
  }
}
