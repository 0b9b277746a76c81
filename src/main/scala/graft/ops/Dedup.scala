package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (content-hash groupBy), MinHash+LSH banding, SimHash
  * bucketing, and exact n-gram Jaccard over candidate pairs.
  *
  * The driver corpus has no natural near-duplicates (max natural
  * 2-gram Jaccard ≈ 0.09), so the oracle-checked queries construct a
  * deterministic near-dup fixture inside the query: every document is
  * unioned with a drop-first-token variant (doc_id + 1_000_000).
  * Original/variant pairs have shingle Jaccard ≈ 0.95 and must be
  * found; unrelated pairs sit ≈ 0.02 and must not.
  *
  * Scale posture (100 TB):
  *  - all candidate generation is *bucketed* (LSH band join / simhash
  *    bucket join / shared-shingle join) — never an all-pairs cross
  *    join; shuffle volume is O(docs x bands), and pathological hot
  *    buckets are AQE-skew-split (salt the band key if a single dup
  *    cluster exceeds an executor).
  *  - signatures are computed in one projection pass (map-side only);
  *    the only shuffles are the band-key join and the final distinct.
  *  - every hash is derived from md5 so results are reproducible
  *    across engines and runs (no JVM-hashCode dependence).
  */
object Dedup {

  val VariantIdOffset = 1000000L

  /** Iteration barrier for the label-propagation loop: cut the lineage
    * so each round doesn't re-run the whole upstream pipeline.
    * When the session has a checkpoint dir configured (cluster mode:
    * point it at reliable storage with
    * `sc.setCheckpointDir("hdfs://...")`), use a reliable
    * `checkpoint()` that survives executor loss mid-iteration;
    * otherwise fall back to `localCheckpoint` (local mode — no
    * distributed-FS round trip).
    */
  private[ops] def iterCheckpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Corpus of (doc_id, toks) plus drop-first-token variants. */
  def corpusWithVariants(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    val variants = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) > 3)
      .select((col("doc_id") + VariantIdOffset).as("doc_id"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("toks"))
    base.unionByName(variants)
  }

  /** Word n-gram shingles of a token-array column. */
  def shingles(toks: Column, n: Int): Column =
    transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))

  // ------------------------------------------------------------ exact

  /** Exact dedup by content hash: canonical (min) id + copy count per
    * distinct text. Fixture: an exact copy of every doc at
    * id + 1_000_000, so every group has >= 2 members.
    * At scale this is the standard hash-groupBy — map-side combine,
    * shuffle O(#distinct texts); hash the content instead of grouping
    * raw text so shuffle keys are fixed-width. The key is the 60-bit
    * md5 prefix ([[H.hash60]]) rather than the 32-char md5 hex: an
    * 8-byte long shuffles 5x fewer key bytes and skips the per-row
    * hex-string materialization, and the oracle twin derives the SAME
    * key (substr of DuckDB's md5), so even a prefix collision — odds
    * ~n²/2^61 — would alter both engines identically.
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val both = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + VariantIdOffset).as("doc_id"),
        col("text")))
    both.groupBy(H.hash60(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies")
      .orderBy("canonical_id")
  }

  // ---------------------------------------------------------- minhash

  /** (a, b) coefficients of the k=16 minhash permutations
    * h_i(x) = (a_i*x + b_i) mod M over the 30-bit base hash.
    * a < 2^21, x < 2^30 => products < 2^51: ANSI-overflow-safe.
    */
  val MinhashAB: Seq[(Long, Long)] =
    (0 until 16).map(i => (1000003L + 7919L * i, 15485863L + 104729L * i))
  val MinhashMod = 2147483647L
  val Bands = 8 // r=2 rows per band

  /** Per-doc minhash signature array from 3-gram shingles, via the
    * codegen'd [[graft.functions.MinHashSignature]] expression (one
    * pass over the shingle hashes computes all 16 minima; the
    * `array(array_min(transform(...)) x16)` composition it replaces is
    * interpreted per element and dominated signature derivation).
    */
  def signatures(corpus: DataFrame): DataFrame = {
    val hs = corpus.select(col("doc_id"),
      transform(shingles(col("toks"), 3), s => H.hash30(s)).as("hs"))
    hs.select(col("doc_id"),
      graft.functions.VectorFunctions
        .minhash_signature(col("hs"), MinhashAB, MinhashMod).as("sig"))
  }

  /** MinHash + banded LSH near-dup pairs with estimated Jaccard
    * >= `minSim` over the standard drop-first-token fixture. */
  def minhashLsh(docs: DataFrame, minSim: Double = 0.5): DataFrame =
    minhashPairs(corpusWithVariants(docs), minSim)

  /** The same banded pair estimation over ANY `(doc_id, toks)` corpus
    * — the composable form ([[Pipeline.corpusBuild]] runs it over the
    * quality-gated, exact-deduped corpus).
    */
  /** The `Bands` LSH band keys of a 16-minhash signature (r=2 rows
    * per band, key = the two minhashes joined with '_'). */
  private def bandKeysOf(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      j => concat_ws("_",
        element_at(sig, j * 2 + 1), element_at(sig, j * 2 + 2)))

  def minhashPairs(corpus: DataFrame, minSim: Double): DataFrame =
    minhashPairsFromSigs(signatures(corpus), minSim)

  /** [[minhashPairs]] over an ALREADY-DERIVED `(doc_id, sig)` frame —
    * the composable form for callers that need the signatures for
    * something else too ([[dedupBatchVsIndex]] probes an index with
    * the same signatures), so the corpus is tokenized and min-hashed
    * exactly once.
    */
  /** `canonical = false` (round 20) skips the pair-level `distinct` +
    * `orderBy` — two exchanges that exist only to make the QUERY
    * output a canonical sorted set. The ingest loops' batch-internal
    * pass feeds a `groupBy(doc_id).min(id_a)` that is duplicate- and
    * order-insensitive, so the loops take the raw multiset.
    */
  def minhashPairsFromSigs(sigs: DataFrame, minSim: Double,
      canonical: Boolean = true): DataFrame = {
    // carry the 16-long signature through the band shuffle: one corpus
    // scan + one shuffle, instead of re-deriving signatures for both
    // sides of the estimate join (3 corpus scans)
    val bands = sigs
      .select(col("doc_id"), col("sig"),
        posexplode(bandKeysOf(col("sig"))).as(Seq("band", "key")))

    val matches = aggregate(
      zip_with(col("a.sig"), col("b.sig"),
        (u, v) => when(u === v, 1L).otherwise(0L)),
      lit(0L), (acc, m) => acc + m)

    // SHUFFLE_HASH hint (round-13, was merge): a broadcast self-join
    // would recompute the signature subtree on both sides; any
    // shuffled join makes both sides exchange on (band, key), so
    // ReusedExchange derives signatures exactly once — and the hash
    // join gets that without SORTING the fat (sig, key) rows twice,
    // which the sort-merge form paid as the join's dominant cost.
    // Build side = one shuffle partition of the band table (bounded
    // by partition count, not corpus size); AQE's skew-join split
    // covers hot bands on ShuffledHashJoin since Spark 3.2.
    // CAVEAT (round-13 advisor): the SHJ build-side hash map does NOT
    // spill — a single (band, key) beyond AQE's skew thresholds would
    // OOM where sort-merge degrades gracefully. Tolerable here because
    // band keys are 2 concatenated 30-bit minhashes: a band partition
    // only grows with near-duplicate mass, and the SF10 chain's
    // largest band-shuffle partition is recorded in PLANS.md. If a
    // real corpus ever concentrates one band key, drop the hint — the
    // ReusedExchange (the actual win) survives under merge too.
    bands.as("a")
      .join(bands.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (matches / lit(MinhashAB.size.toDouble)).as("est_sim"))
      .filter(col("est_sim") >= minSim)
      .transform(d =>
        // same pair from several bands has the same est_sim
        if (canonical) d.distinct().orderBy("id_a", "id_b") else d)
  }

  /** CTE chain `hashed -> sig -> bands -> cand -> est` computing
    * MinHash-LSH pair estimates over ANY preceding `corpus(doc_id,
    * toks)` CTE — shared by the fixture oracle below and by composed
    * pipelines ([[Pipeline]]'s corpus build). Same constants as the
    * Spark plan, so the two can never drift.
    */
  def minhashEstCtes: String = {
    val sigExprs = MinhashAB.map { case (a, b) =>
      s"list_min(list_transform(hs, x -> ($a*x + $b) % $MinhashMod))"
    }.mkString(",\n    ")
    val bandKey = "sig[2*j+1]::VARCHAR || '_' || sig[2*j+2]::VARCHAR"
    s"""hashed AS (SELECT doc_id, list_transform(
       |    list_transform(range(1, len(toks)-1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
       |    s -> ${H.duckHash30("s")}) AS hs
       |  FROM corpus),
       |sig AS (SELECT doc_id, [$sigExprs] AS sig FROM hashed),
       |bands AS (SELECT doc_id, j, $bandKey AS key
       |          FROM sig, unnest(range(0, $Bands)) AS t(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b
       |           ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |est AS (SELECT id_a, id_b,
       |          len(list_filter(range(1, ${MinhashAB.size + 1}),
       |            i -> x.sig[i] = y.sig[i])) / ${MinhashAB.size}.0 AS est_sim
       |        FROM cand JOIN sig x ON id_a = x.doc_id
       |                  JOIN sig y ON id_b = y.doc_id)""".stripMargin
  }

  /** DuckDB oracle for [[minhashLsh]], generated from the same
    * constants so Spark and the oracle can never drift.
    */
  def minhashLshOracle(minSim: Double = 0.5): String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |$minhashEstCtes
       |SELECT id_a, id_b, est_sim FROM est WHERE est_sim >= $minSim
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------- simhash

  val SimhashBits = 16

  /** (doc_id, simhash) buckets: bit j of the simhash is set when the
    * majority of the doc's token hashes have bit j set (token
    * MULTISET — repeated tokens vote repeatedly, the standard
    * frequency weighting). One explode + one groupBy: map-side
    * partial aggregation folds the per-token bit votes, so only
    * `bits + 1` longs per doc cross the shuffle regardless of doc
    * length.
    */
  private def simhashBuckets(docs: DataFrame, bits: Int): DataFrame = {
    // 16-bit keeps the historical 30-bit base hash; the wide variant
    // needs all 60 md5-prefix bits
    val hashFn: Column => Column =
      if (bits > 30) H.hash60 else H.hash30
    val tok = corpusWithVariants(docs)
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .select(col("doc_id"), hashFn(col("w")).as("h"))
    val bitSums = (0 until bits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"s$j"))
    val agged = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val simhash = (0 until bits).map(j =>
        when(col(s"s$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agged.select(col("doc_id"), simhash.as("simhash"))
  }

  /** 16-bit SimHash per doc over the token multiset: near-dups land in
    * the same bucket; pairs sharing a bucket are reported. The
    * corpus-scale variant is [[simhashWidePairs]] (60 bits +
    * block-split candidates).
    */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val buckets = simhashBuckets(docs, SimhashBits)
    // merge hint: both sides shuffle on simhash -> ReusedExchange
    // computes the bit-sum aggregation once (broadcast would redo it)
    buckets.as("a")
      .join(buckets.as("b").hint("merge"),
        col("a.simhash") === col("b.simhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("simhash"))
      .orderBy("id_a", "id_b")
  }

  /** DuckDB oracle for [[simhashPairs]], same constants. */
  def simhashOracle: String = {
    val bitSums = (0 until SimhashBits)
      .map(j => s"sum((h >> $j) & 1) AS s$j").mkString(", ")
    val sim = (0 until SimhashBits)
      .map(j => s"CASE WHEN s$j * 2 > n THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |tok AS (SELECT doc_id, ${H.duckHash30("t.w")} AS h
       |        FROM corpus, unnest(toks) AS t(w)),
       |agged AS (SELECT doc_id, count(*) AS n, $bitSums FROM tok GROUP BY doc_id),
       |buckets AS (SELECT doc_id, ($sim)::BIGINT AS simhash FROM agged)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS simhash
       |FROM buckets a JOIN buckets b
       |  ON a.simhash = b.simhash AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** SimHash with hamming-ball multi-probe — the scale path promised
    * by [[simhashPairs]]'s doc: pairs within hamming distance 1 of
    * each other's bucket are also candidates (one side probes its
    * bucket plus each 1-bit flip; a pair at distance 0 or 1 matches
    * via exactly one probe mask, so no distinct is needed).
    */
  def simhashProbePairs(docs: DataFrame): DataFrame = {
    val buckets = simhashBuckets(docs, SimhashBits)
    val probeMasks = array((lit(0L) +:
      (0 until SimhashBits).map(j => lit(1L << j))): _*)
    val probed = buckets.select(col("doc_id"), col("simhash"),
      explode(transform(probeMasks, m => col("simhash").bitwiseXOR(m)))
        .as("pbucket"))
    probed.as("a")
      .join(buckets.as("b").hint("merge"),
        col("a.pbucket") === col("b.simhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  def simhashProbeOracle: String = {
    val bitSums = (0 until SimhashBits)
      .map(j => s"sum((h >> $j) & 1) AS s$j").mkString(", ")
    val sim = (0 until SimhashBits)
      .map(j => s"CASE WHEN s$j * 2 > n THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    val masks = (0L +: (0 until SimhashBits).map(j => 1L << j))
      .mkString(", ")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |tok AS (SELECT doc_id, ${H.duckHash30("t.w")} AS h
       |        FROM corpus, unnest(toks) AS t(w)),
       |agged AS (SELECT doc_id, count(*) AS n, $bitSums FROM tok GROUP BY doc_id),
       |buckets AS (SELECT doc_id, ($sim)::BIGINT AS simhash FROM agged),
       |probed AS (SELECT doc_id, simhash, xor(simhash, m.m) AS pbucket
       |           FROM buckets, unnest([$masks]) AS m(m))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
       |FROM probed a JOIN buckets b
       |  ON a.pbucket = b.simhash AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- wide (corpus-scale) simhash: 60 bits + block-split candidates

  /** 60 bits (the full md5-prefix hash) instead of 16: at corpus scale
    * a 16-bit fingerprint has only 65k buckets, so unrelated docs
    * collide constantly; 60 bits makes random collisions negligible.
    */
  val SimhashWideBits = 60
  val SimhashWideBlocks = 4 // 4 x 15-bit blocks
  val SimhashMaxHamming = 5

  /** Corpus-scale SimHash near-dup pairs — the design from Manku,
    * Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling"
    * (WWW'07): a wide fingerprint is split into
    * [[SimhashWideBlocks]] equal blocks, candidate pairs share at
    * least one EXACT block (equi-join per block — never a hamming
    * scan), and candidates are confirmed by `bit_count(xor) <=`
    * [[SimhashMaxHamming]]. The pigeonhole guarantee: any pair within
    * hamming `blocks - 1` (= 3) shares an untouched block and is
    * found; pairs at hamming 4-5 are found when their flipped bits
    * cluster (deterministic given the data).
    *
    * Scale posture: shuffle is O(docs x blocks) fixed-width longs;
    * per-block buckets have 2^15 keys, so fan-out per bucket stays
    * tiny; no probe-explosion (contrast the 17x fan-out of the
    * flip-1-bit 16-bit variant).
    */
  def simhashWidePairs(docs: DataFrame): DataFrame =
    simhashWidePairsFromBuckets(
      simhashBuckets(docs, SimhashWideBits))

  /** [[simhashWidePairs]] over an already-derived (doc_id, simhash)
    * frame — split out (round 20) so [[simhashWideRecall]] can feed
    * its CHECKPOINTED bucket table to the candidate pass instead of
    * re-running the 60-bit-sum aggregation a third time.
    */
  private def simhashWidePairsFromBuckets(buckets: DataFrame,
      ordered: Boolean = true): DataFrame = {
    val w = SimhashWideBits / SimhashWideBlocks // 15
    val blockKeys = array((0 until SimhashWideBlocks).map(b =>
      shiftright(col("simhash"), b * w).bitwiseAND(lit((1L << w) - 1))): _*)
    val blocks = buckets.select(col("doc_id"), col("simhash"),
      posexplode(blockKeys).as(Seq("blk", "key")))
    // merge hint: both sides shuffle on (blk, key) -> ReusedExchange
    // derives the 60 bit-sums once
    blocks.as("a")
      .join(blocks.as("b").hint("merge"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .distinct() // a pair can share several blocks
      .transform(d => if (ordered) d.orderBy("id_a", "id_b") else d)
  }

  /** DuckDB oracle for [[simhashWidePairs]], same constants. */
  def simhashWideOracle: String = {
    val w = SimhashWideBits / SimhashWideBlocks
    val bitSums = (0 until SimhashWideBits)
      .map(j => s"sum((h >> $j) & 1) AS s$j").mkString(", ")
    val sim = (0 until SimhashWideBits)
      .map(j => s"CASE WHEN s$j * 2 > n THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |tok AS (SELECT doc_id, ${H.duckHash60("t.w")} AS h
       |        FROM corpus, unnest(toks) AS t(w)),
       |agged AS (SELECT doc_id, count(*) AS n, $bitSums FROM tok GROUP BY doc_id),
       |buckets AS (SELECT doc_id, ($sim)::BIGINT AS simhash FROM agged),
       |blocks AS (SELECT doc_id, simhash, t.b AS blk,
       |             (simhash >> (t.b * $w)) & ${(1L << w) - 1} AS key
       |           FROM buckets, unnest(range(0, $SimhashWideBlocks)) AS t(b))
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
       |FROM blocks a JOIN blocks b
       |  ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Measured recall of [[simhashWidePairs]] against the EXACT
    * hamming-ball pairs, per hamming distance — the number that backs
    * the block-split design's claim: distance <= blocks-1 (= 3) is
    * found with certainty (pigeonhole: 3 flipped bits can touch at
    * most 3 of the 4 blocks), distance 4-5 only when the flips
    * cluster. Same measurement shape as
    * [[Similarity.knnLshRecall]] (Similarity.scala) — exact reference
    * ranking left-joined with the approximate hits.
    *
    * The exact side is an all-pairs comparison over fixed-width longs
    * — a measurement bed, not a scale path; past the base fixtures it
    * computes truth over a hash-sampled left side (see
    * [[TruthSample]]: stride from the raw `documents` count — the
    * cheap metadata count both engines share; the derived corpus is
    * at most 2x that — so work is O([[SimhashTruthCap]] · n), the
    * bounded sampled side broadcasts, and the corpus side streams
    * with no shuffle at any scale).
    */
  val SimhashTruthCap = 1024L

  def simhashWideRecall(docs: DataFrame): DataFrame = {
    // ONE 60-bit-sum aggregation (round 20): the bucket table used to
    // be re-derived (tokenize + 61-aggregate groupBy) THREE times —
    // for the broadcast truth side, for the nested-loop stream side,
    // and a third time inside the candidate pass — which is also what
    // made the query degrade super-linearly at low core counts (the
    // per-core recompute multiplied). One checkpoint feeds all three.
    val buckets = iterCheckpoint(simhashBuckets(docs, SimhashWideBits))
    val stride = TruthSample.strideFor(docs.count(), SimhashTruthCap)
    val left =
      if (stride == 1L) buckets
      else buckets.filter(TruthSample.keep(col("doc_id"), "sh_", stride))
    val exact = broadcast(left).as("a")
      .join(buckets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
    val found = simhashWidePairsFromBuckets(buckets, ordered = false)
      .select(col("id_a").as("fa"), col("id_b").as("fb"))
    exact.join(found,
        col("id_a") === col("fa") && col("id_b") === col("fb"), "left")
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_true"), count(col("fa")).as("n_found"),
        round(count(col("fa")) / count(lit(1)), 4).as("recall"))
      .orderBy("hamming")
  }

  /** DuckDB oracle for [[simhashWideRecall]], same constants. */
  def simhashWideRecallOracle: String = {
    val w = SimhashWideBits / SimhashWideBlocks
    val bitSums = (0 until SimhashWideBits)
      .map(j => s"sum((h >> $j) & 1) AS s$j").mkString(", ")
    val sim = (0 until SimhashWideBits)
      .map(j => s"CASE WHEN s$j * 2 > n THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |tok AS (SELECT doc_id, ${H.duckHash60("t.w")} AS h
       |        FROM corpus, unnest(toks) AS t(w)),
       |agged AS (SELECT doc_id, count(*) AS n, $bitSums FROM tok GROUP BY doc_id),
       |buckets AS (SELECT doc_id, ($sim)::BIGINT AS simhash FROM agged),
       |blocks AS (SELECT doc_id, simhash, t.b AS blk,
       |             (simhash >> (t.b * $w)) & ${(1L << w) - 1} AS key
       |           FROM buckets, unnest(range(0, $SimhashWideBlocks)) AS t(b)),
       |found AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |          FROM blocks a JOIN blocks b
       |            ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
       |          WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming),
       |par AS (SELECT ${TruthSample.strideLadderSql("cnt", SimhashTruthCap)}
       |    AS stride FROM (SELECT count(*) AS cnt FROM documents)),
       |lefts AS (SELECT doc_id, simhash FROM buckets CROSS JOIN par
       |  WHERE ${TruthSample.duckKeepSql("doc_id", "sh_", "stride")}),
       |exact AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |            bit_count(xor(a.simhash, b.simhash))::INT AS hamming
       |          FROM lefts a JOIN buckets b ON a.doc_id < b.doc_id
       |          WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming)
       |SELECT hamming, count(*) AS n_true, count(f.id_a) AS n_found,
       |  round(count(f.id_a) / count(*), 4) AS recall
       |FROM exact e LEFT JOIN found f USING (id_a, id_b)
       |GROUP BY hamming ORDER BY hamming""".stripMargin
  }

  /** MinHash signatures via the typed Aggregator
    * (graft.functions.MinHashAggregator) over EXPLODED shingle rows —
    * the formulation that scales when a document's shingles don't fit
    * one row: partial aggregation folds shingles map-side and only
    * 16-long buffers cross the shuffle. Same constants as
    * [[signatures]], so the signatures are identical.
    */
  def minhashSignaturesAgg(docs: DataFrame): DataFrame = {
    val hashed = corpusWithVariants(docs)
      .select(col("doc_id"),
        explode(transform(shingles(col("toks"), 3), s => H.hash30(s))).as("h"))
    val mh = udaf(graft.functions.MinHashAggregator.minhashSignature)
    hashed.groupBy("doc_id").agg(mh(col("h")).as("sig"))
      .select(col("doc_id") +:
        MinhashAB.indices.map(i => element_at(col("sig"), i + 1).as(s"sig_$i")): _*)
      .orderBy("doc_id")
  }

  def minhashSignaturesAggOracle: String = {
    val minExprs = MinhashAB.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a*h + $b) % $MinhashMod) AS sig_$i"
    }.mkString(",\n  ")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |hashed AS (SELECT doc_id, ${H.duckHash30("t.s")} AS h
       |  FROM corpus, unnest(list_transform(range(1, len(toks)-1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS t(s))
       |SELECT doc_id,
       |  $minExprs
       |FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Near-dup CLUSTERS: connected components over the MinHash-LSH
    * pair graph, each doc labeled with its component's minimum id
    * (the canonical representative). This is the step that turns
    * pairwise matches into dedup decisions.
    *
    * Implementation: FRONTIER label propagation to a fixpoint — each
    * round every node takes the min label in its neighborhood, but
    * only labels that changed last round (the frontier) are
    * propagated, broadcast once provably small. Components here are
    * tiny (near-dup clusters), so rounds ~ O(log diameter) and the
    * frontier collapses after the first full round; rounds >= 2 run
    * no wide shuffle at all. This is the standard large-graph
    * approach when components are small (a 100 TB dedup graph is
    * exactly that); the alternating large/small star twin
    * ([[graft.ops.Graph.ccStar]]) covers adversarial diameters.
    */
  def minhashClusters(docs: DataFrame, minSim: Double = 0.5, maxIter: Int = 10): DataFrame =
    propagateLabels(minhashLsh(docs, minSim).select("id_a", "id_b"), maxIter)

  /** The frontier label-propagation core of [[minhashClusters]],
    * callable on ANY undirected pair list (id_a, id_b) — split out
    * (round-14) so HubGraphSpec can drive it with a synthetic
    * 10M-edge hub graph without synthesizing documents that LSH into
    * one. Production entry points always arrive through
    * [[minhashClusters]]; semantics and plan are unchanged.
    */
  private[graft] def propagateLabels(pairs: DataFrame, maxIter: Int = 10): DataFrame =
    propagateLabelIds(pairs, maxIter)
      .groupBy("label")
      .agg(count(lit(1)).as("cluster_size"),
        min(col("id")).as("canonical_id"))
      .select(col("canonical_id"), col("cluster_size"))
      .orderBy("canonical_id")

  /** [[propagateLabels]] before the per-cluster rollup: one (id,
    * label) row per node of the pair graph, label = the component's
    * min id — for consumers that need PER-DOC cluster membership
    * ([[dedupKeepBest]] picks a quality-argmax representative per
    * cluster, which the (canonical_id, size) summary can't express).
    */
  private[graft] def propagateLabelIds(pairs: DataFrame,
      maxIter: Int = 10): DataFrame = {
    // materialize the edge list ONCE: every iteration joins against it,
    // and without the checkpoint the whole LSH pipeline would re-run
    // per round
    val edges = iterCheckpoint(pairs
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"))))
    // round 1 fused into initialization: from identity labels, the
    // first propagation is just min(id, min direct neighbor) — one
    // aggregation over the edge list instead of an identity
    // checkpoint + join + re-checkpoint
    val sc = pairs.sparkSession.sparkContext
    val beforeInit = sc.getPersistentRDDs.keySet.toSet
    val init = iterCheckpoint(edges.groupBy(col("id_a").as("id"))
      .agg(min(col("id_b")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("label")))
    val initIds = sc.getPersistentRDDs.keySet.toSet -- beforeInit
    // FRONTIER propagation (round-11 verdict #1): min-label
    // propagation is MONOTONE, so after the full first round only
    // nodes whose label just DROPPED can improve a neighbor — and at
    // corpus scale that frontier collapses immediately (measured at
    // mult=100: 1.2M edges, then 462 / 29 / 4 / 0 improvements).
    // The old loop still shuffled and re-checkpointed the FULL label
    // table every round, which is what the mid-artifact driver-GC
    // pauses multiplied across (94 s in BENCH_SF10 vs 14 s isolated).
    // Now each round joins the edge list against the DELTA only
    // (broadcast once it is provably small), the running best-label
    // table stays a LAZY stack of broadcast-merged deltas over the
    // init checkpoint, and the only per-round materialization is the
    // delta itself — rounds >= 2 run zero wide shuffles and park only
    // KB-scale blocks. Fixpoint and round count are unchanged: the
    // frontier is exactly the set the old loop would have flagged as
    // changed, and convergence is an empty frontier.
    def cut(df: DataFrame): DataFrame =
      if (sc.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(false)
    var best = init
    var delta: DataFrame = init
    var deltaRows = Long.MaxValue
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      if (iter == 0) {
        // round 1 stays the FULL fused round (one union + one wide
        // min-groupBy, max(prev) recovering the previous label with
        // no second join) — every node is frontier here, so the
        // delta machinery below would only add joins. Its checkpoint
        // is the base every later lazy fold re-scans.
        val own = best.select(col("id"), col("label"),
          col("label").as("prev"))
        val fromNeighbors = edges
          .join(best, edges("id_b") === best("id"))
          .select(edges("id_a").as("id"), col("label"),
            lit(null).cast("long").as("prev"))
        val next = cut(own.unionByName(fromNeighbors)
          .groupBy("id")
          .agg(min(col("label")).as("label"), max(col("prev")).as("prev")))
        val d = next.filter(col("label") =!= col("prev"))
          .select(col("id"), col("label"))
        // the count is the ONE job that also materializes the round
        // (lazy local checkpoint in local mode; eager reliable
        // checkpoint — recoverable mid-iteration — on a cluster)
        deltaRows = d.count()
        converged = deltaRows == 0
        best = next.select(col("id"), col("label"))
        delta = d
        // init's blocks are unreachable once round 1 is cut
        initIds.foreach(id => sc.getPersistentRDDs.get(id)
          .foreach(_.unpersist(blocking = false)))
      } else {
        // a frontier below the gate rides to every executor as a
        // broadcast (exact count from last round's convergence
        // check); a bigger one — adversarial chain graphs — falls
        // back to the shuffled join automatically. The gate is a
        // conf knob so tests can force the fallback path.
        val gate = pairs.sparkSession.conf
          .get("spark.graft.frontierBroadcastRows", "1000000").toLong
        val small = deltaRows <= gate
        val d = if (small) broadcast(delta) else delta
        // `cand` is one row per DISTINCT NEIGHBOR of the frontier —
        // on a hub-heavy graph that can be orders of magnitude
        // larger than the frontier itself, so a forced broadcast
        // here (round-12 advisor) risks the driver: no hint, AQE
        // sizes the post-shuffle side at runtime and converts to a
        // broadcast join exactly when it actually fits.
        val cand = edges.join(d, edges("id_b") === d("id"))
          .groupBy(edges("id_a").as("id"))
          .agg(min(d("label")).as("cand"))
        // strict improvements only: candidates below the current best
        val imp = best.join(cand, "id")
          .filter(col("cand") < col("label"))
          .select(col("id"), col("cand").as("label"))
        val next = cut(imp)
        deltaRows = next.count()
        converged = deltaRows == 0
        if (!converged) {
          // fold the delta into the running best lazily — a broadcast
          // left join per round, re-executed narrow over the round-1
          // checkpoint scan (shuffled join under the same
          // large-frontier fallback). Renamed first: a lazy checkpoint
          // REUSES the parent plan's exprIds, so joining it back
          // against `best` unrenamed is an ambiguous self-join.
          // Gate on the FRESH count (the new delta's own exact size),
          // not last round's — the stale gate was the second half of
          // the round-12 advisor finding.
          val smallNext = deltaRows <= gate
          val renamed = next.select(col("id").as("d_id"),
            col("label").as("d_label"))
          val nd = if (smallNext) broadcast(renamed) else renamed
          best = best.join(nd, best("id") === nd("d_id"), "left")
            .select(best("id"),
              least(best("label"), coalesce(nd("d_label"), best("label")))
                .as("label"))
          delta = next
        }
      }
      iter += 1
    }
    best
  }

  def minhashClustersOracle(minSim: Double = 0.5): String =
    s"""WITH RECURSIVE pairs AS (${minhashLshOracle(minSim)
          .replace("ORDER BY id_a, id_b", "")}),
       |edges AS (SELECT id_a, id_b FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT id_a AS id FROM edges),
       |reach(id, root) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.id_b, r.root FROM reach r JOIN edges e ON e.id_a = r.id),
       |labels AS (SELECT id, min(root) AS label FROM reach GROUP BY id)
       |SELECT min(id) AS canonical_id, count(*) AS cluster_size
       |FROM labels GROUP BY label ORDER BY canonical_id""".stripMargin

  /** The quality score of a `(doc_id, toks)` corpus row — the same
    * formula (weights, evaluation order) as
    * [[Analysis.qualityScore]], expressed over toks so it also scores
    * the fixture's variant docs (which exist only as token arrays).
    */
  private def tokQuality: Column = {
    val n = size(col("toks")).cast("double")
    val ttr = size(array_distinct(col("toks"))).cast("double") / n
    val meanLen = aggregate(col("toks"), lit(0L),
      (acc, w) => acc + length(w)).cast("double") / n
    val lenSat = least(n / lit(100.0), lit(1.0))
    ttr * lit(0.5) + lenSat * lit(0.3) +
      least(meanLen / lit(10.0), lit(1.0)) * lit(0.2)
  }

  /** Quality-aware cluster representative selection (round 15): for
    * each near-dup cluster keep the member with the HIGHEST quality
    * score (ties by min id) — production pipelines keep the best
    * member of a dup cluster, not the lexicographically first, and
    * keep-first ([[keepFirstSummary]]) can't express that. Output:
    * one row per cluster — (cluster_id = component min id, kept_id,
    * kept_quality, cluster_size).
    *
    * Scale shape: per-doc labels from the frontier loop
    * ([[propagateLabelIds]] — delta rounds, gated broadcast), quality
    * a map-side projection joined on the label table (cluster-member
    * sized, not corpus sized), and the per-cluster argmax on the
    * [[graft.plans.TopKPerKey]] partial heaps with k=1 — the shuffle
    * carries one candidate per (cluster, input partition), never the
    * member lists.
    */
  def dedupKeepBest(docs: DataFrame, minSim: Double = 0.5): DataFrame = {
    val labels = propagateLabelIds(
      minhashLsh(docs, minSim).select("id_a", "id_b"))
    val q = corpusWithVariants(docs)
      .select(col("doc_id"), tokQuality.as("quality"))
    val members = labels.join(q, labels("id") === q("doc_id"))
      .select(col("id"), col("label"), col("quality"))
    val rep = graft.plans.TopKPerKey.topK(members, Seq("label"),
      Seq(col("quality").desc, col("id").asc), 1)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    rep.join(sizes, "label")
      .select(col("label").as("cluster_id"), col("id").as("kept_id"),
        round(col("quality"), 6).as("kept_quality"), col("cluster_size"))
      .orderBy("cluster_id")
  }

  /** DuckDB oracle for [[dedupKeepBest]]: the clusters CTE of
    * [[minhashClustersOracle]] joined with the toks-form quality
    * formula, representative = row_number 1 under the identical
    * (quality desc, id asc) order.
    */
  def dedupKeepBestOracle(minSim: Double = 0.5): String =
    s"""WITH RECURSIVE base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |$minhashEstCtes,
       |pairs AS (SELECT id_a, id_b FROM est WHERE est_sim >= $minSim),
       |edges AS (SELECT id_a, id_b FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT id_a AS id FROM edges),
       |reach(id, root) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.id_b, r.root FROM reach r JOIN edges e ON e.id_a = r.id),
       |labels AS (SELECT id, min(root) AS label FROM reach GROUP BY id),
       |q AS (SELECT doc_id,
       |    (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.5 +
       |    least(len(toks)::DOUBLE / 100.0, 1.0) * 0.3 +
       |    least(((list_sum(list_transform(toks, w -> length(w))))::DOUBLE
       |           / len(toks)) / 10.0, 1.0) * 0.2 AS quality
       |  FROM corpus),
       |members AS (SELECT l.id, l.label, q.quality
       |  FROM labels l JOIN q ON l.id = q.doc_id),
       |rep AS (SELECT label, id, quality,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY quality DESC, id ASC) AS rn
       |  FROM members),
       |sizes AS (SELECT label, count(*) AS cluster_size
       |  FROM labels GROUP BY label)
       |SELECT r.label AS cluster_id, r.id AS kept_id,
       |  round(r.quality, 6) AS kept_quality, s.cluster_size
       |FROM rep r JOIN sizes s ON r.label = s.label
       |WHERE r.rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** End-to-end keep-first dedup: the pipeline decision rule used by
    * production near-dup dedup — DROP any document that has an
    * LSH-confirmed near-duplicate with a smaller id; the smallest id
    * of each dup group survives. One summary row: corpus size, docs
    * dropped, docs kept. Cost on top of [[minhashLsh]] is a distinct
    * on the drop side + an anti join.
    */
  def keepFirstSummary(docs: DataFrame, minSim: Double = 0.5): DataFrame = {
    val corpus = corpusWithVariants(docs).select("doc_id")
    val drops = minhashLsh(docs, minSim).select(col("id_b").as("doc_id")).distinct()
    val kept = corpus.join(drops, Seq("doc_id"), "left_anti")
    // n_dropped is DERIVED (drops ⊆ corpus by construction — every
    // id_b is a corpus doc — so n_corpus = n_kept + n_dropped holds
    // exactly). Counting drops as its own aggregate branch ran the
    // entire LSH pipeline a second time: the anti join's build side
    // and the standalone count don't share an exchange (round-13
    // measured the query at 2x the cost of minhashLsh itself).
    corpus.agg(count(lit(1)).as("n_corpus"))
      .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
      .select(col("n_corpus"),
        (col("n_corpus") - col("n_kept")).as("n_dropped"), col("n_kept"))
  }

  def keepFirstSummaryOracle(minSim: Double = 0.5): String =
    s"""WITH pairs AS (${minhashLshOracle(minSim)
          .replace("ORDER BY id_a, id_b", "")}),
       |base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset FROM base WHERE len(toks) > 3),
       |drops AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
       |SELECT
       |  (SELECT count(*) FROM corpus) AS n_corpus,
       |  (SELECT count(*) FROM drops) AS n_dropped,
       |  (SELECT count(*) FROM corpus WHERE doc_id NOT IN
       |     (SELECT doc_id FROM drops)) AS n_kept""".stripMargin

  // ------------------------------------------------- chunk-level dedup

  /** Sub-document dedup (the line/paragraph-level pass production
    * pipelines run before document-level near-dup): documents split
    * into fixed `chunkTokens`-token chunks, each chunk hashed, and
    * every chunk that already occurred earlier in corpus order
    * (smallest (doc_id, chunk_idx) wins) counted as a duplicate.
    * Fixture: an exact copy of every doc at id + 1_000_000, so every
    * copy's chunk is a dup of its original's.
    *
    * Scale posture: chunks shuffle once on their fixed-width md5 hash;
    * the per-hash window ranks tiny groups (dup families), never the
    * corpus. Reported per doc: total chunks and duplicated chunks —
    * the scrub pass would drop chunks with rn > 1.
    */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 32): DataFrame = {
    val both = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select(
        (col("doc_id") + VariantIdOffset).as("doc_id"), col("text")))
    val chunks = both
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(toks)-1) div $chunkTokens), " +
          s"i -> concat_ws(' ', slice(toks, i*$chunkTokens + 1, $chunkTokens)))"))
        .as(Seq("chunk_idx", "chunk")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(H.hash60(col("chunk")))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    chunks
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .orderBy("doc_id")
  }

  def chunkDedupOracle(chunkTokens: Int = 32): String =
    s"""WITH both_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, text FROM documents),
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM both_docs),
       |chunks AS (SELECT doc_id, u.i AS chunk_idx,
       |    array_to_string(toks[u.i*$chunkTokens + 1 : u.i*$chunkTokens + $chunkTokens], ' ')
       |      AS chunk
       |  FROM t, unnest(range(0, (len(toks)-1)//$chunkTokens + 1)) AS u(i)),
       |ranked AS (SELECT doc_id, chunk_idx,
       |    row_number() OVER (PARTITION BY ${H.duckHash60("chunk")}
       |      ORDER BY doc_id, chunk_idx) AS rn
       |  FROM chunks)
       |SELECT doc_id, count(*) AS n_chunks,
       |  sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks
       |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- span-level dedup

  val SpanTokens = 16

  /** Arbitrary-offset duplicated-span detection — the distributed
    * stand-in for suffix-array exact-substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * ACL'22): EVERY [[SpanTokens]]-token sliding window is hashed, a
    * window whose hash occurs 2+ times anywhere in the corpus is a
    * duplicated span, and each doc reports its duplicated-window
    * ratio. Unlike fixed-chunk hashing ([[chunkDedup]]), this catches
    * overlap at ANY offset — the fixture's drop-first-token variants
    * shift every chunk boundary, are invisible to chunk hashing, and
    * still light up here (all their interior windows match the
    * original's).
    *
    * Scale posture: O(tokens) window rows, one map-side-combinable
    * count per hash, one broadcast-or-shuffle join back (AQE
    * decides), one per-doc rollup. Fixed-width 8-byte hash keys
    * ([[H.hash60]], oracle-mirrored md5 prefix); nothing
    * quadratic anywhere.
    */
  def spanDedup(docs: DataFrame, spanTokens: Int = SpanTokens): DataFrame = {
    val both = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= spanTokens)
      .unionByName(docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) > spanTokens)
        .select((col("doc_id") + VariantIdOffset).as("doc_id"),
          slice(col("toks"), lit(2), size(col("toks")) - 1).as("toks")))
    val windows = both.select(col("doc_id"),
      explode(transform(shingles(col("toks"), spanTokens), s => H.hash60(s)))
        .as("h"))
    val dupHashes = windows.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    windows
      .join(dupHashes.withColumn("dup", lit(1L)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows") / col("n_windows").cast("double"), 4)
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  def spanDedupOracle(spanTokens: Int = SpanTokens): String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= $spanTokens
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base
       |  WHERE len(toks) > $spanTokens),
       |w AS (SELECT doc_id, ${H.duckHash60("u.s")} AS h
       |  FROM corpus, unnest(list_transform(
       |    range(1, len(toks) - ${spanTokens - 2}),
       |    i -> array_to_string(toks[i : i + ${spanTokens - 1}], ' '))) AS u(s)),
       |duph AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2)
       |SELECT doc_id, count(*) AS n_windows,
       |  sum(CASE WHEN h IN (SELECT h FROM duph) THEN 1 ELSE 0 END)::BIGINT
       |    AS n_dup_windows,
       |  round(sum(CASE WHEN h IN (SELECT h FROM duph) THEN 1 ELSE 0 END)
       |    / count(*)::DOUBLE, 4) AS dup_ratio
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ exact jaccard

  /** Document-frequency cap for the shared-shingle join: a shingle
    * present in more than this many documents is boilerplate (a
    * header, a license block, a common phrase) — it fans the self-join
    * out quadratically on one key while carrying no discriminative
    * signal. Dropped from the shingle universe BEFORE the join (and
    * before the per-doc set sizes, so Jaccard stays exact over the
    * retained universe). At 100 TB this cap is what keeps the hottest
    * shingle from melting one executor.
    */
  val MaxShingleDf = 50

  /** The documents-table fixture the ngram pair QUERIES run over: the
    * standard drop-first-token variant corpus, subsampled to
    * doc_id % 10 = 0 (the variant offset is a multiple of 10, so
    * variants of selected docs are selected too). FIXTURE ONLY —
    * variant injection and the 10% subsample are bench concerns, not
    * operator semantics; [[ngramJaccard]]/[[ngramContainment]] take
    * any prepared `(doc_id, toks)` corpus (round-14 verdict: the
    * wrapper used to live INSIDE the ops, silently dropping 90% of a
    * production caller's data).
    */
  def ngramFixture(docs: DataFrame, residue: Int = 0): DataFrame =
    corpusWithVariants(docs).filter(col("doc_id") % 10 === residue)

  /** Shared-shingle intersection stats over a prepared `(doc_id,
    * toks)` corpus — the common candidate stage of [[ngramJaccard]]
    * and [[ngramContainment]]: one row per pair of docs sharing at
    * least one retained 3-shingle, with the intersection size and
    * both (df-capped) set sizes. At scale, shuffle is O(total
    * shingles) and the self-join fans out only where shingles are
    * actually shared; `maxDf` bounds the worst per-shingle fan-out
    * to df^2 pairs.
    */
  private def sharedShingleStats(corpus: DataFrame, maxDf: Int,
      n: Int = 3): DataFrame = {
    // docs shorter than n tokens have no n-shingles; filter BEFORE
    // shingling ([[shingles]]' sequence would go negative) — the
    // oracle's range() yields an empty list for them, same semantics
    val shAll = corpus.filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(shingles(col("toks"), n))).as("sh"))
    val hot = shAll.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("sh")
    // anti join shuffles on sh — the same key the self-join needs, so
    // the exchange is shared; no extra full pass over the corpus
    val sh = shAll.join(hot, Seq("sh"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b").hint("merge"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("x"), col("id_a") === col("x.doc_id"))
      .join(sizes.as("y"), col("id_b") === col("y.doc_id"))
      .select(col("id_a"), col("id_b"), col("inter"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
  }

  /** Exact n-gram Jaccard near-dup pairs over a prepared `(doc_id,
    * toks)` corpus (see [[sharedShingleStats]] for the candidate
    * join's scale posture; [[ngramFixture]] for the bench fixture).
    */
  def ngramJaccard(corpus: DataFrame, minSim: Double = 0.5,
      maxDf: Int = MaxShingleDf, n: Int = 3): DataFrame =
    sharedShingleStats(corpus, maxDf, n)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minSim)
      .orderBy("id_a", "id_b")

  /** The oracle's n-shingle list expression (1-based list indexing):
    * `range(1, len-(n-2))` yields exactly len-n+1 shingle starts —
    * for n=3 this renders byte-identically to the pre-parameterized
    * form the fixed queries were validated against.
    */
  private def duckShingles(n: Int): String = {
    val terms = (0 until n).map(j =>
      if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(" || ' ' || ")
    s"list_transform(range(1, len(toks)-${n - 2}),\n" +
      s"      i -> $terms)"
  }

  def ngramJaccardOracle(minSim: Double = 0.5,
      maxDf: Int = MaxShingleDf, n: Int = 3, residue: Int = 0): String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |sub AS (SELECT * FROM corpus WHERE doc_id % 10 = $residue),
       |sh0 AS (SELECT doc_id, unnest(list_distinct(
       |    ${duckShingles(n)})) AS sh
       |  FROM sub),
       |hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > $maxDf),
       |sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  inter::DOUBLE / (x.n + y.n - inter) AS jaccard
       |FROM inter JOIN sizes x ON id_a = x.doc_id
       |           JOIN sizes y ON id_b = y.doc_id
       |WHERE inter::DOUBLE / (x.n + y.n - inter) >= $minSim
       |ORDER BY id_a, id_b""".stripMargin

  /** Overlap-coefficient (containment) near-dup pairs:
    * `inter / min(|A|, |B|)` over the same df-capped shared-shingle
    * join as [[ngramJaccard]]. Catches INCLUSION duplicates that
    * Jaccard structurally cannot: a short doc wholly quoted inside a
    * longer one has J = |A|/|B| (arbitrarily small as the host doc
    * grows) but overlap exactly 1.0 — the fixture's drop-first-token
    * variants are contained in their originals, so every
    * original/variant pair must score 1.0 here. Takes a prepared
    * `(doc_id, toks)` corpus; same scale posture as [[ngramJaccard]]
    * (shared [[sharedShingleStats]] candidate stage).
    */
  def ngramContainment(corpus: DataFrame, minCont: Double = 0.8,
      maxDf: Int = MaxShingleDf, n: Int = 3): DataFrame =
    sharedShingleStats(corpus, maxDf, n)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          least(col("n_a"), col("n_b"))).as("overlap"))
      .filter(col("overlap") >= minCont)
      .orderBy("id_a", "id_b")

  def ngramContainmentOracle(minCont: Double = 0.8,
      maxDf: Int = MaxShingleDf, n: Int = 3, residue: Int = 0): String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |sub AS (SELECT * FROM corpus WHERE doc_id % 10 = $residue),
       |sh0 AS (SELECT doc_id, unnest(list_distinct(
       |    ${duckShingles(n)})) AS sh
       |  FROM sub),
       |hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > $maxDf),
       |sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  inter::DOUBLE / least(x.n, y.n) AS overlap
       |FROM inter JOIN sizes x ON id_a = x.doc_id
       |           JOIN sizes y ON id_b = y.doc_id
       |WHERE inter::DOUBLE / least(x.n, y.n) >= $minCont
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------- incremental dedup against a persisted LSH index

  /** Batch/base split of the fixture corpus for the incremental
    * queries — a ~5% batch, because batch << corpus is the operating
    * assumption [[dedupIncr]]'s broadcast probe is built on (the
    * first cut of this fixture took HALF the corpus as the batch and
    * force-broadcast ~700 MB of band rows at the 100x SF — the exact
    * self-inflicted OOM the contract exists to rule out). `% 50`
    * keeps original+variant together (the offset is 1_000_000 ≡ 0
    * mod 50) — guaranteed *batch-internal* near-dup pairs; `% 30 = 7`
    * puts the original in the batch and its variant in the base
    * (offset ≡ 10 mod 30, and no d ≡ 7 mod 30 is ≡ 0 mod 50) —
    * guaranteed *batch-vs-corpus* matches. Both decision paths are
    * exercised at every SF.
    */
  private def incrBatchPred(m1: Int, r1: Int, m2: Int, r2: Int): Column =
    col("doc_id") % m1 === r1 || col("doc_id") % m2 === r2

  private def incrBatchPred: Column = incrBatchPred(50, 0, 30, 7)

  /** The standing corpus the index is built over. */
  def incrBase(docs: DataFrame): DataFrame =
    corpusWithVariants(docs).filter(!incrBatchPred)

  /** The incoming batch to dedup against the index. */
  def incrBatch(docs: DataFrame): DataFrame =
    corpusWithVariants(docs).filter(incrBatchPred)

  /** Residue-PARAMETERIZED base/batch split (round-16 verdict #6: the
    * standing-state ops fuzzed beyond their fixed fixture) — the
    * default split is (50, 0, 30, 7).
    */
  def incrBaseP(docs: DataFrame, m1: Int, r1: Int, m2: Int,
      r2: Int): DataFrame =
    corpusWithVariants(docs).filter(!incrBatchPred(m1, r1, m2, r2))

  def incrBatchP(docs: DataFrame, m1: Int, r1: Int, m2: Int,
      r2: Int): DataFrame =
    corpusWithVariants(docs).filter(incrBatchPred(m1, r1, m2, r2))

  /** One row per (doc, band) with the full signature and `kh`, the
    * 64-bit hash of the band key — the physical row format of the
    * persisted index, shared by build and append so the layouts can
    * never diverge. `kh` is the index's cluster key
    * ([[Layout.ClusterMetaKey]]): every file is sorted by it and its
    * manifest entry records its range, so a probe reads only the
    * files whose range meets one of the batch's keys.
    */
  private def bandRowsFromSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"), col("quality"),
        posexplode(bandKeysOf(col("sig"))).as(Seq("band", "key")))
      .withColumn("kh", xxhash64(col("band"), col("key")))

  /** [[signatures]] plus the doc's [[tokQuality]] score — the
    * signature form every index write derives from: band rows carry
    * the quality so [[dedupBatchVsIndexKeepBest]] can compare batch
    * docs against standing-corpus docs WITHOUT a corpus-sized side
    * table. Parquet is columnar, so probes that never read `quality`
    * pay nothing for it.
    */
  private[ops] def signaturesQ(corpus: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val hs = corpus.select((Seq(col("doc_id"),
      transform(shingles(col("toks"), 3), s => H.hash30(s)).as("hs"),
      tokQuality.as("quality")) ++ carry.map(col)): _*)
    hs.select((Seq(col("doc_id"),
      graft.functions.VectorFunctions
        .minhash_signature(col("hs"), MinhashAB, MinhashMod).as("sig"),
      col("quality")) ++ carry.map(col)): _*)
  }

  private def indexBandRows(corpus: DataFrame): DataFrame =
    bandRowsFromSigs(signaturesQ(corpus))

  /** The LSH geometry this engine build writes/expects in an index's
    * sidecar: any change to band count, key clustering, or signature
    * width makes persisted band keys meaningless, so [[lshIndexAppend]]
    * hard-fails on a mismatch instead of silently mixing geometries.
    */
  def indexGeometry: String =
    s"bands=$Bands cluster=kh sig=${MinhashAB.size}"

  /** Physical schema of the persisted band index. Declared explicitly
    * on every read: (a) skips footer-based schema inference, and (b)
    * makes an EMPTY index readable — bootstrap ingest (probe batch 1
    * against a standing corpus of zero docs) commits no part files,
    * which schema inference cannot read.
    */
  val IndexSchema: String =
    "doc_id BIGINT, sig ARRAY<BIGINT>, quality DOUBLE, " +
      "band INT, key STRING, kh BIGINT"

  private[ops] def writeSidecar(spark: SparkSession, path: String,
      text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private[ops] def readSidecar(spark: SparkSession,
      path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try { in.readFully(buf); Some(new String(buf, "UTF-8")) }
      finally in.close()
    }
  }

  /** Order-independent content fingerprint of a corpus frame —
    * `count:bit_xor(xxhash64(all columns, sorted by name))` — recorded
    * in a `corpusfp` sidecar by every index BUILD and REQUIRED to
    * match before [[lshIndexFresh]]/[[Bm25Index.fresh]] clone a
    * build-once master (round-17 advisor: geometry + a committed
    * version only prove the master is a WELL-FORMED index, not that it
    * was built over THIS corpus — a stale master at the path would
    * silently clone outdated state and every probe would return wrong
    * results; until now only the callers' fingerprinted dir names
    * guarded this). One map-only column-pruned pass over the corpus —
    * tiny next to the tokenize+minhash+shuffle a rebuild pays, so the
    * clone path keeps its measured win. For a MANIFEST-TABLE corpus
    * pass [[Manifest.snapshotIdentity]] as the fingerprint instead —
    * snapshot identity needs zero jobs.
    *
    * Two order-independent aggregates ride alongside the count
    * (round-18 advisor): bit_xor alone self-cancels duplicate rows —
    * any two equal-count corpora whose distinct rows each occur an
    * EVEN number of times xor to 0, and dup-heavy corpora are exactly
    * this framework's input — so an exact decimal SUM of the same
    * hashes (which never cancels on duplicates, and being decimal
    * never overflows under ANSI arithmetic) joins the fingerprint.
    */
  private[graft] def corpusFingerprint(corpus: DataFrame): String = {
    val cols = corpus.columns.sorted.toIndexedSeq.map(col)
    val r = corpus.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("x"),
        coalesce(sum(col("h").cast("decimal(28,0)")),
          lit(java.math.BigDecimal.ZERO)).as("s")).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getDecimal(2).toPlainString}"
  }

  /** [[IndexSchema]] as a StructType, with `kh` carrying the
    * cluster-key marker ([[Layout.ClusterMetaKey]]) — recorded by the
    * build commit, so even an EMPTY index (bootstrap ingest) clusters
    * its first append and records its key ranges.
    */
  private def indexStruct: org.apache.spark.sql.types.StructType =
    Layout.markColumns(IndexSchema, "kh" -> Layout.ClusterMetaKey)

  /** Hard gate every index read/write passes: the sidecar must exist
    * and match THIS engine build's geometry. Probing or appending
    * under a different band count / key clustering / signature width
    * silently never matches (stale band keys), so it is an error, not
    * a degraded mode. (Round-15 advisor: the probe path skipped this
    * check and relied on callers baking geometry into the path.)
    */
  private def requireGeometry(spark: SparkSession, dir: String): Unit = {
    val tag = readSidecar(spark, s"$dir/geometry").getOrElse(
      sys.error(s"$dir has no geometry sidecar — not a graft LSH index"))
    require(tag == indexGeometry,
      s"index at $dir has geometry '$tag' but this engine writes " +
        s"'$indexGeometry' — rebuild the index, do not mix geometries")
  }

  /** The band table of the index at `dir`, read THROUGH its manifest
    * (current snapshot, or `version` — time travel / probe pinning):
    * the file list comes from the committed snapshot, never a
    * directory walk, so files staged by an in-flight append or
    * compaction are invisible until their commit lands, and any
    * deletion vector ([[dedupBatchVsIndexKeepBest]]'s replaced docs)
    * is subtracted. `keep` prunes the snapshot's files by their
    * entries ([[Manifest.entryMeets]]) before the scan is planned.
    * Geometry-checked first.
    */
  private[ops] def readIndexBands(spark: SparkSession, dir: String,
      version: Option[Int] = None,
      keep: ManifestEntry => Boolean = _ => true): DataFrame = {
    requireGeometry(spark, dir)
    Manifest.readTableGated(spark, s"$dir/bands", version,
      Manifest.MarkBroadcastRows, keep)
  }

  /** Committed snapshot version of the index — pin a probe to it
    * ([[dedupBatchVsIndex]]'s `version`) to read consistent results
    * while maintenance commits land concurrently.
    */
  def lshIndexVersion(spark: SparkSession, dir: String): Option[Int] =
    Manifest.currentVersion(spark, s"$dir/bands")

  /** Bootstrap an EMPTY committed index — the first-day-of-ingest
    * shape — without running a write job over an empty frame: just
    * the geometry sidecar plus a v1 empty-entry manifest under the
    * declared schema (reads as an empty table; the first append still
    * clusters via the schema's cluster marker).
    * [[lshIndexBuild]] over a known-empty corpus spends ~3 s on the
    * shuffle/write/list machinery to produce exactly this.
    */
  def lshIndexInit(spark: SparkSession, dir: String): Unit = {
    writeSidecar(spark, s"$dir/geometry", indexGeometry)
    Manifest.write(spark, s"$dir/bands", Seq.empty, 1,
      schema = Some(indexStruct))
  }

  /** Independent byte-for-byte copy of a standing index
    * ([[Layout.cloneTable]] on the band table + the geometry
    * sidecar): mutation-bearing consumers
    * ([[dedupBatchVsIndexKeepBestApply]]) work on a clone while the
    * master stays read-only — file copy, never a re-banding pass.
    */
  private[ops] def lshIndexClone(spark: SparkSession, srcDir: String,
      dstDir: String): Unit = {
    requireGeometry(spark, srcDir)
    Layout.cloneTable(spark, s"$srcDir/bands", s"$dstDir/bands"): Unit
    writeSidecar(spark, s"$dstDir/geometry", indexGeometry)
    readSidecar(spark, s"$srcDir/corpusfp").foreach(fp =>
      writeSidecar(spark, s"$dstDir/corpusfp", fp))
  }

  /** A fresh MUTABLE index over `corpus` at `dir`, via a build-once
    * read-only master at `masterDir` (round-16 verdict #5 — the
    * re-band vs clone crossover, now MEASURED instead of asserted):
    * PLANS.md ("Clone vs re-band") records both paths timed: the
    * byte-copy clone beats re-banding at EVERY measured scale — sf0.01 0.44 s vs
    * 1.87 s, sf0.1 0.48 vs 1.84, sf1 0.57 vs 2.74, sf10 0.56 vs 13.5
    * (PLANS.md round 17, when the index still had one file per
    * bucket; the clustered master copies fewer files). There is no
    * crossover to gate on: the clone is file-parallel I/O while the
    * rebuild re-tokenizes and re-minhashes the corpus, so `auto`
    * clones whenever a committed master exists and (re)builds the
    * master only when it is absent or torn (no manifest version — the
    * build's completion marker).
    * `spark.graft.lsh.setupPath` pins `rebuild` / `clone` for A/Bs;
    * results are bit-identical either way (a clone is a byte copy).
    */
  def lshIndexFresh(corpus: DataFrame, masterDir: String,
      dir: String, corpusId: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val mode = spark.conf.get("spark.graft.lsh.setupPath", "auto")
    require(Seq("auto", "rebuild", "clone").contains(mode),
      s"spark.graft.lsh.setupPath must be auto|rebuild|clone, got '$mode'")
    if (mode == "rebuild") { lshIndexBuild(corpus, dir, corpusId); return }
    // the master is only clonable if it is a committed index AND its
    // recorded corpus fingerprint matches THIS corpus (round-17
    // advisor) — a stale or foreign master at the path rebuilds in
    // auto mode and errors in clone mode instead of silently serving
    // wrong probe results. `corpusId` (a manifest-table corpus's
    // [[Manifest.snapshotIdentity]]) stands in for the content scan:
    // the check becomes ZERO Spark jobs (round-18 verdict #2), and a
    // stale master — recorded over an older snapshot version — still
    // mismatches and refuses.
    val fp = corpusId.getOrElse(corpusFingerprint(corpus))
    val masterOk =
      readSidecar(spark, s"$masterDir/geometry").contains(indexGeometry) &&
        Manifest.currentVersion(spark, s"$masterDir/bands").isDefined &&
        readSidecar(spark, s"$masterDir/corpusfp").contains(fp)
    if (!masterOk) {
      require(mode != "clone",
        s"setupPath=clone but no committed master over this corpus " +
          s"(fingerprint $fp) at $masterDir")
      lshIndexBuild(corpus, masterDir, corpusId)
    }
    lshIndexClone(spark, masterDir, dir)
  }

  /** Persist the LSH band index of a standing corpus under
    * `dir/bands`: one row per (doc, band) carrying the full signature
    * and its band-key hash `kh`, range-partitioned on `kh` and sorted
    * by it, so the files cover disjoint `kh` ranges that their v1
    * manifest entries record (the writer reports them: no listing, no
    * footer read). Build cost is the same single signature pass as
    * [[minhashPairs]] plus one range-partitioned write — O(corpus),
    * paid once. This is the shape incremental ingest needs at 100 TB:
    * re-running full-corpus dedup per daily batch is O(corpus) *per
    * batch*; probing a persisted index is O(batch). A build replaces
    * whatever `dir/bands` held.
    */
  def lshIndexBuild(corpus: DataFrame, dir: String,
      corpusId: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val bands = s"$dir/bands"
    val entries = Layout.writeClustered(spark, bands, indexBandRows(corpus),
      Nil, "kh")
    writeSidecar(spark, s"$dir/geometry", indexGeometry)
    // the build-once master contract: record WHAT corpus this index
    // was built over, so [[lshIndexFresh]] can refuse a stale master —
    // the snapshot identity when the corpus is a manifest table
    // (zero-job), else the content fingerprint
    writeSidecar(spark, s"$dir/corpusfp",
      corpusId.getOrElse(corpusFingerprint(corpus)))
    // v1 snapshot: from here on the MANIFEST is the index — appends
    // and compactions are versioned commits (crash-safe, OCC), probes
    // read the committed file list, vacuum reclaims superseded files.
    // An empty build (bootstrap: zero standing docs) commits an empty
    // entry list under the declared schema, so it reads as an empty
    // table and the first append still clusters.
    Manifest.write(spark, bands, entries, 1, schema = Some(indexStruct))
  }

  /** Append a (kept) batch's band rows to a standing [[lshIndexBuild]]
    * index — the maintenance half of incremental ingest: probe the
    * batch ([[dedupBatchVsIndex]]), then append its KEPT docs so the
    * next batch dedups against them too. The clustered write lands a
    * batch as one file sorted by `kh` ([[Layout.ClusterMetaKey]]),
    * same single signature pass, and the geometry sidecar is checked
    * first — appending rows banded under a different LSH geometry
    * would silently never match.
    *
    * Each append adds a file; [[lshIndexCompact]] (run automatically
    * past [[AutoCompactFilesPerDir]]) merges them into range-disjoint
    * files.
    */
  def lshIndexAppend(kept: DataFrame, dir: String): Unit =
    lshIndexAppendFromSigs(signaturesQ(kept), dir)

  /** [[lshIndexAppend]] over an already-derived `(doc_id, sig)` frame
    * — the ingest-loop form: the probe already checkpointed the
    * batch's signatures, so appending the kept subset re-reads that
    * materialization instead of re-tokenizing the docs.
    */
  /** Auto-compaction cadence default (round-16 verdict #7): when any
    * directory's file count crosses this after an append, the append
    * triggers [[lshIndexCompact]] itself — at daily-ingest cadence
    * nothing else ever runs it, and the loop would otherwise accrue a
    * file per append until probes go file-open-bound. The check is
    * pure manifest metadata ([[Layout.maxFilesPerDir]]), the
    * compaction a metadata-swap
    * commit (probes pinned to the pre-compact version read
    * bit-identical results). Same shape as the DV auto-flush ratio:
    * `spark.graft.autoCompactFilesPerDir` overrides, 0 disables.
    */
  val AutoCompactFilesPerDir = 16

  private[ops] def autoCompactThreshold(spark: SparkSession): Int =
    spark.conf.get("spark.graft.autoCompactFilesPerDir",
      AutoCompactFilesPerDir.toString).toInt

  def lshIndexAppendFromSigs(sigs: DataFrame, dir: String,
      txnApp: Option[(String, Long)] = None): Unit = {
    val spark = sigs.sparkSession
    requireGeometry(spark, dir)
    // app-scoped exactly-once for ingest-loop restarts: a replayed
    // append ([[Pipeline.corpusBuildIncr]]'s txn protocol) no-ops
    if (txnApp.exists { case (a, n) =>
        Manifest.lastTxnFor(spark, s"$dir/bands", a).exists(_ >= n) })
      return
    // a versioned manifest commit (round-15 verdict #1), not a raw
    // mode(append) write: the batch's band rows land as staged files
    // renamed in, then ONE snapshot commit (claim lease -> rename
    // arbiter -> pointer flip) makes them visible atomically. A probe
    // running concurrently reads the snapshot it pinned; a crashed
    // append leaves unreferenced files for vacuum, never a torn index.
    Layout.appendInPlace(spark, s"$dir/bands", bandRowsFromSigs(sigs),
      txnApp = txnApp)
    val thresh = autoCompactThreshold(spark)
    if (thresh > 0 && Layout.maxFilesPerDir(spark, s"$dir/bands") > thresh)
      lshIndexCompact(spark, dir): Unit
  }

  /** Merge the index's small files into range-partitioned files sorted
    * by `kh`. Appends accumulate a file per batch; at daily-ingest
    * cadence that is thousands of small files within a quarter, each
    * spanning the whole `kh` range, and probe cost becomes
    * file-open-bound instead of row-bound. The rewrite is O(index) but
    * embarrassingly parallel, and its merged files cover disjoint
    * ranges again.
    *
    * Crash-safe since round 16: this is [[Layout.compactInPlace]]
    * over the index's own manifest — compacted files land as NEW
    * siblings of the originals and the swap is a pure
    * METADATA commit (the CURRENT pointer flips last), so there is no
    * instant with no live index: a crash at ANY point leaves the
    * previous snapshot readable, and a probe pinned to version N
    * reads bit-identical results while the compaction commits N+1.
    * Superseded files stay on disk for time travel until
    * [[lshIndexVacuum]]. Returns (filesBefore, filesAfter).
    */
  def lshIndexCompact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    requireGeometry(spark, dir)
    Layout.compactInPlace(spark, s"$dir/bands", targetBytes)
  }

  /** Reclaim files no retained snapshot references (superseded by
    * compaction, or staged by a crashed append). Returns files
    * removed.
    */
  def lshIndexVacuum(spark: SparkSession, dir: String,
      keepVersions: Int = 2): Int =
    Manifest.vacuum(spark, s"$dir/bands", keepVersions)

  /** Auto-gate default for [[dedupBatchVsIndex]]'s batch-band
    * broadcast, in BAND ROWS (= batch docs x [[Bands]]). A band row
    * is ~200 B unsafe (16-long sig + band key string + ids), so
    * 500k rows is a ~100 MB broadcast — comfortably inside a
    * production driver/executor, far under the ~700 MB that OOM'd
    * the first mis-sized fixture. Override with
    * `spark.graft.incrBroadcastRows`.
    */
  val IncrBroadcastRows = 500000L

  /** The batch's signatures (plus its `carry` columns), checkpointed
    * once, and their row count, observed on that checkpoint's own job:
    * the probe bands, the batch-internal pairs and the caller's append
    * all re-read the checkpoint instead of re-min-hashing, and the
    * broadcast gate needs no count job.
    */
  private def checkpointedSigs(batch: DataFrame,
      carry: Seq[String] = Nil): (DataFrame, Long) = {
    val obs = new org.apache.spark.sql.Observation(
      s"sigs-n-${java.util.UUID.randomUUID()}")
    val sigs = iterCheckpoint(
      signaturesQ(batch, carry).observe(obs, count(lit(1)).as("n")))
    (sigs, observedLong(obs)(sigs.count()))
  }

  /** The observed long of a metric that rode another action, with a
    * loud-but-correct fallback: a degenerate plan can drop or empty
    * the metrics row (optimizer-collapsed subtree), and those rare
    * shapes pay the explicit count instead of stalling or erroring.
    */
  private[ops] def observedLong(obs: org.apache.spark.sql.Observation)(
      fallback: => Long): Long = {
    val observed =
      try {
        val row = scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(10, "s"))
        (if (row.size > 0) row.get(0) else null) match {
          case n: Number => Some(n.longValue())
          case _ => None
        }
      } catch {
        case _: java.util.concurrent.TimeoutException => None
      }
    observed.getOrElse(fallback)
  }

  /** The two sides of a batch probe — the index read and the batch's
    * band rows — under the measured broadcast gate (shared by
    * [[dedupBatchVsIndex]] and [[dedupBatchVsIndexKeepBest]]). When
    * the batch's band-row count (`nDocs` x [[Bands]], an exact count
    * off the signature checkpoint, not a config boolean) fits
    * `spark.graft.incrBroadcastRows`, the band rows come to the driver
    * in one job — a broadcast ships them there anyway — and broadcast
    * from there, and their key hashes prune the index to the files
    * whose recorded `kh` range meets one of them: a
    * map-only probe over O(batch-touched files), not O(index). Past
    * the gate — a backfill — the join shuffles over every file:
    * correctness unchanged, pruning lost, and at backfill scale a full
    * scan is proportionate. `spark.graft.incrBroadcastBatch`
    * (true/false) overrides the gate.
    */
  private def probeSides(sigs: DataFrame, nDocs: Long, dir: String,
      version: Option[Int]): (DataFrame, DataFrame) = {
    val spark = sigs.sparkSession
    val bands = bandRowsFromSigs(sigs)
    val gate = spark.conf.get("spark.graft.incrBroadcastRows",
      IncrBroadcastRows.toString).toLong
    val doBroadcast = spark.conf
      .getOption("spark.graft.incrBroadcastBatch") match {
      case Some(forced) => forced.toBoolean // manual override
      case None => nDocs * Bands <= gate // measured auto gate
    }
    if (!doBroadcast) (readIndexBands(spark, dir, version), bands)
    else {
      val local = bands.collect()
      val keys = local.map(_.getAs[Long]("kh")).distinct.sorted
      (readIndexBands(spark, dir, version, Manifest.entryMeets("kh", keys)),
        broadcast(spark.createDataFrame(
          java.util.Arrays.asList(local: _*), bands.schema)))
    }
  }

  /** The probe join: index rows (`c`) sharing a band key with batch
    * rows (`n`).
    */
  private def probeJoin(idx: DataFrame, bbands: DataFrame): DataFrame =
    idx.as("c").join(bbands.as("n"),
      col("c.kh") === col("n.kh") && col("c.band") === col("n.band") &&
        col("c.key") === col("n.key"))

  /** Signature-estimate similarity between an index row (`c`) and a
    * probe row (`n`) — matching minhash positions / signature width.
    */
  private def indexEstSim: Column = aggregate(
    zip_with(col("c.sig"), col("n.sig"),
      (u, v) => when(u === v, 1L).otherwise(0L)),
    lit(0L), (acc, m) => acc + m) / lit(MinhashAB.size.toDouble)

  /** Dedup a prepared `(doc_id, toks)` batch against a persisted
    * [[lshIndexBuild]] index plus itself. Per batch doc: `decision`
    * is `dup_corpus` (shares an LSH band with a standing-corpus doc
    * at est_sim >= minSim; wins over everything — the standing
    * corpus is already deduped and kept), else `dup_batch`
    * (keep-first within the batch: some earlier batch doc matches
    * it), else `kept`; `dup_of` is the smallest matching doc id (-1
    * when kept).
    *
    * Scale posture: the batch is tokenized + min-hashed ONCE (an
    * [[iterCheckpoint]] barrier on the signature frame feeds the
    * index probe and the batch-internal pair pass, and its job
    * observes the gate count). When the batch's band table fits the
    * broadcast gate — an EXACT row count against
    * `spark.graft.incrBroadcastRows`, the frontier loop's pattern, not
    * a config boolean (round-14 verdict: the static flag
    * force-broadcast a mis-sized fixture into a driver OOM) — it
    * broadcasts into the index scan, so the index is never shuffled:
    * one map-only probe pass over only the files whose `kh` range
    * meets a probed key ([[probeSides]]; IncrDedupSpec pins the
    * pruning AND the gate boundary). A batch past the gate — a
    * backfill — falls back to the shuffled join over every file
    * automatically. `spark.graft.incrBroadcastBatch` (true/false)
    * remains as a manual override of the auto gate.
    */
  def dedupBatchVsIndex(batch: DataFrame, dir: String,
      minSim: Double = 0.5, version: Option[Int] = None): DataFrame =
    dedupBatchVsIndexCore(batch, dir, minSim, version)._1

  /** [[dedupBatchVsIndex]] plus the batch's materialized `(doc_id,
    * sig)` frame — so the ingest loop can append the kept docs' band
    * rows from the SAME signature pass the probe ran on
    * ([[lshIndexAppendFromSigs]]) instead of re-tokenizing the batch.
    */
  /** `ordered = false` (round 19) skips the query-facing `doc_id`
    * sort: the ingest loops materialize the decision frame only to
    * FILTER it (kept ids), so the sort's sample + range-exchange
    * stages were pure per-batch overhead; the query wrappers keep the
    * sorted form, so every declared result is row-identical.
    */
  private[ops] def dedupBatchVsIndexCore(batch: DataFrame, dir: String,
      minSim: Double, version: Option[Int] = None,
      ordered: Boolean = true): (DataFrame, DataFrame) = {
    val (sigs, nDocs) = checkpointedSigs(batch)
    val (idx, bbands) = probeSides(sigs, nDocs, dir, version)
    val est = indexEstSim
    val corpusDup = probeJoin(idx, bbands)
      .select(col("n.doc_id").as("doc_id"),
        col("c.doc_id").as("corpus_id"), est.as("est_sim"))
      .filter(col("est_sim") >= minSim)
      .groupBy("doc_id").agg(min("corpus_id").as("dup_corpus"))
    val batchDup = minhashPairsFromSigs(sigs, minSim, canonical = false)
      .select(col("id_b").as("doc_id"), col("id_a"))
      .groupBy("doc_id").agg(min("id_a").as("dup_batch"))
    val decisions = sigs.select("doc_id")
      .join(corpusDup, Seq("doc_id"), "left")
      .join(batchDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_corpus").isNotNull, lit("dup_corpus"))
          .when(col("dup_batch").isNotNull, lit("dup_batch"))
          .otherwise(lit("kept")).as("decision"),
        coalesce(col("dup_corpus"), col("dup_batch"), lit(-1L))
          .as("dup_of"))
    (if (ordered) decisions.orderBy("doc_id") else decisions, sigs)
  }

  /** [[dedupBatchVsIndex]] over the standard [[incrBatch]] fixture
    * split — the oracle-checked query form.
    */
  def dedupIncr(docs: DataFrame, dir: String,
      minSim: Double = 0.5): DataFrame =
    dedupBatchVsIndex(incrBatch(docs), dir, minSim)

  /** DuckDB oracle for [[lshIndexBuild]] on [[incrBase]] +
    * [[dedupIncr]]: the banded est pairs over the FULL corpus
    * ([[minhashEstCtes]] — identical constants), symmetrized for the
    * batch-vs-base direction (the index probe has no id ordering),
    * id_a < id_b keep-first for the batch-internal direction.
    */
  def dedupIncrOracle(minSim: Double = 0.5, m1: Int = 50, r1: Int = 0,
      m2: Int = 30, r2: Int = 7): String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |$minhashEstCtes,
       |batch AS (SELECT doc_id FROM corpus
       |          WHERE doc_id % $m1 = $r1 OR doc_id % $m2 = $r2),
       |sym AS (SELECT id_a AS d, id_b AS o, est_sim FROM est
       |        UNION ALL SELECT id_b, id_a, est_sim FROM est),
       |cdup AS (SELECT d AS doc_id, min(o) AS dup_corpus FROM sym
       |         WHERE est_sim >= $minSim
       |           AND d IN (SELECT doc_id FROM batch)
       |           AND o NOT IN (SELECT doc_id FROM batch)
       |         GROUP BY 1),
       |bdup AS (SELECT id_b AS doc_id, min(id_a) AS dup_batch FROM est
       |         WHERE est_sim >= $minSim
       |           AND id_a IN (SELECT doc_id FROM batch)
       |           AND id_b IN (SELECT doc_id FROM batch)
       |         GROUP BY 1)
       |SELECT b.doc_id,
       |  CASE WHEN c.dup_corpus IS NOT NULL THEN 'dup_corpus'
       |       WHEN d.dup_batch IS NOT NULL THEN 'dup_batch'
       |       ELSE 'kept' END AS decision,
       |  coalesce(c.dup_corpus, d.dup_batch, -1) AS dup_of
       |FROM batch b LEFT JOIN cdup c USING (doc_id)
       |             LEFT JOIN bdup d USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  // --------------- index-aware keep-best: replace worse corpus docs

  /** Quality-aware incremental dedup (round 16, verdict #8 —
    * [[dedupKeepBest]] composed with the persisted index):
    * [[dedupBatchVsIndex]] always keeps the standing-corpus doc, but
    * a production pipeline keeps the BEST doc of a dup group — so
    * when a batch doc scores strictly higher than every corpus doc it
    * matches, the batch doc wins. Per batch doc:
    *  - `replaced_corpus`: matches the index at est_sim >= minSim and
    *    its quality exceeds the best matching corpus doc's — the
    *    batch doc is the group's new representative; `dup_of` = the
    *    displaced best (quality desc, id asc) corpus doc;
    *  - `dup_corpus`: matches but does not beat the best match
    *    (ties keep the corpus — the standing doc is already serving);
    *  - `dup_batch` / `kept`: as [[dedupBatchVsIndex]] (batch-internal
    *    resolution stays keep-first; quality arbitration is for the
    *    batch-vs-corpus boundary, where re-deciding is expensive).
    *
    * Same scale posture as the plain probe: one signature pass, the
    * measured broadcast gate, map-only scan of the pruned files; the
    * quality comparison reads one extra double column off the index
    * (stored denormalized per band row at write time — columnar, so
    * plain probes never pay for it) and the per-doc argmax is one
    * map-side-combinable max(struct) — no corpus-sized side join.
    */
  def dedupBatchVsIndexKeepBest(batch: DataFrame, dir: String,
      minSim: Double = 0.5): DataFrame =
    dedupKeepBestVsIndexCore(batch, dir, minSim)._1

  /** [[dedupBatchVsIndexKeepBest]] plus the frames the mutating form
    * needs: the batch's materialized signatures (append without
    * re-tokenizing) and the lazy (doc_id, corpus_id) match pairs
    * (which corpus docs each replaced batch doc displaces).
    */
  private def dedupKeepBestVsIndexCore(batch: DataFrame, dir: String,
      minSim: Double): (DataFrame, DataFrame, DataFrame) = {
    val (sigs, pairs) = kbProbePairs(batch, dir, minSim, Nil)
    (kbDecisions(sigs, pairs, minSim, Nil)
      .select("doc_id", "decision", "dup_of").orderBy("doc_id"), sigs, pairs)
  }

  /** The probe half: the batch's checkpointed signatures and the LAZY
    * (batch doc, matched corpus doc, corpus quality) pair frame —
    * split out of the core (round 19) so [[dedupBatchVsIndexKeepBestDecide]]
    * can materialize the pairs ONCE and derive the decisions from the
    * materialization: the old shape checkpointed the decisions and the
    * pairs as two independent plans, each of which re-ran the index
    * probe join — two index scans per ingest batch where one suffices.
    */
  private def kbProbePairs(batch: DataFrame, dir: String,
      minSim: Double, carry: Seq[String]): (DataFrame, DataFrame) = {
    val (sigs, nDocs) = checkpointedSigs(batch, carry)
    val (idx, bbands) = probeSides(sigs, nDocs, dir, None)
    // the distinct STAYS (round 20, measured): near-dup matches share
    // many bands, so dropping the dedup exchange multiplies the pair
    // materialization and every downstream consumer by the shared-band
    // factor — tried and reverted, the map-only checkpoint lost more
    // than the exchange cost
    val pairs = probeJoin(idx, bbands)
      .select(col("n.doc_id").as("doc_id"),
        col("c.doc_id").as("corpus_id"), col("c.quality").as("q_c"),
        indexEstSim.as("est_sim"))
      .filter(col("est_sim") >= minSim)
      .select("doc_id", "corpus_id", "q_c")
      // clustered on doc_id once: the distinct and the per-doc best
      // match share this one exchange
      .repartition(col("doc_id")).distinct()
    (sigs, pairs)
  }

  /** The decision half over an already-derived pair frame — UNSORTED
    * (ingest loops only filter the decisions; the query-facing
    * wrappers add the `doc_id` total order on top, so their output is
    * row-for-row what the old always-sorted core produced). After
    * `dup_of` come `matched`, every corpus id the doc matched (the ids
    * a `replaced_corpus` doc displaces), the doc's `quality`, and the
    * `carry` columns of `sigs`.
    */
  private def kbDecisions(sigs: DataFrame, pairs: DataFrame,
      minSim: Double, carry: Seq[String]): DataFrame = {
    // per batch doc: the best (quality desc, id asc) corpus match via
    // max(struct) — negated id makes the lexicographic max implement
    // the asc tiebreak; corpus_id rides in slot 3 (never compared:
    // slot 2 is unique)
    val best = pairs.groupBy("doc_id")
      .agg(max(struct(col("q_c"), (-col("corpus_id")).as("neg"),
        col("corpus_id").as("cid"))).as("m"),
        collect_set("corpus_id").as("matched"))
      .select(col("doc_id"), col("m.q_c").as("best_q"),
        col("m.cid").as("best_id"), col("matched"))
    val batchDup = minhashPairsFromSigs(sigs, minSim, canonical = false)
      .select(col("id_b").as("doc_id"), col("id_a"))
      .groupBy("doc_id").agg(min("id_a").as("dup_batch"))
    sigs.select(("doc_id" +: "quality" +: carry).map(col): _*)
      .join(best, Seq("doc_id"), "left")
      .join(batchDup, Seq("doc_id"), "left")
      .select((Seq(col("doc_id"),
        when(col("best_id").isNotNull && col("quality") > col("best_q"),
          lit("replaced_corpus"))
          .when(col("best_id").isNotNull, lit("dup_corpus"))
          .when(col("dup_batch").isNotNull, lit("dup_batch"))
          .otherwise(lit("kept")).as("decision"),
        coalesce(col("best_id"), col("dup_batch"), lit(-1L)).as("dup_of"),
        col("matched"), col("quality")) ++ carry.map(col)): _*)
  }

  /** The MUTATING form: probe with [[dedupBatchVsIndexKeepBest]],
    * then apply the decisions to the index — every corpus doc matched
    * by a `replaced_corpus` batch doc is deleted (merge-on-read
    * deletion vector over the band table's manifest — O(matches)
    * metadata, no data file rewritten; [[lshIndexCompact]] flushes
    * marks), and the `kept` + `replaced_corpus` batch docs append.
    * A re-probe of a replaced doc's content matches ITS band rows,
    * never the displaced doc's. Returns the decision frame.
    *
    * The displaced-id set stays DISTRIBUTED (round-16 verdict #3):
    * the merge-on-read marks come from a broadcast semi-join against
    * the doomed frame ([[Layout.deleteMergeOnReadKeys]]), never a
    * driver-collected literal In — a re-crawl-heavy batch replacing
    * 100k+ standing docs is a normal plan, not a 100k-literal one.
    */
  def dedupBatchVsIndexKeepBestApply(batch: DataFrame, dir: String,
      minSim: Double = 0.5): DataFrame =
    dedupBatchVsIndexKeepBestApplyCore(batch, dir, minSim)._1

  /** [[dedupBatchVsIndexKeepBestApply]] plus the materialized frame
    * of DISPLACED standing-corpus ids (column `corpus_id`; empty when
    * no replacement fired) — so a composed ingest loop can propagate
    * the replacements to its OTHER standing indexes (the BM25
    * un-index path, round-17 verdict #2) without re-probing.
    */
  private def dedupBatchVsIndexKeepBestApplyCore(batch: DataFrame,
      dir: String, minSim: Double): (DataFrame, DataFrame) = {
    // both outlive the commit they feed, so they materialize first
    val dec = iterCheckpoint(
      dedupBatchVsIndexKeepBestDecide(batch, dir, minSim).drop("toks"))
    val doomed = iterCheckpoint(
      dec.filter(col("decision") === "replaced_corpus")
        .select(explode(col("matched")).as("corpus_id")).distinct())
    dedupBatchVsIndexKeepBestCommit(
      dec.filter(col("decision").isin("kept", "replaced_corpus"))
        .select("doc_id", "sig", "quality"),
      doomed.withColumnRenamed("corpus_id", "doc_id"), dir, None)
    // the decisions are derived UNSORTED (the loops only filter them);
    // restate the query-facing doc_id total order
    (dec.select("doc_id", "decision", "dup_of").orderBy("doc_id"), doomed)
  }

  /** The PROBE half of the keep-best apply: the decisions — each batch
    * doc's `matched` corpus ids (the ids a `replaced_corpus` doc
    * displaces), `quality`, `toks` and `sig` ride along. NOTHING is
    * committed, and nothing materialized but the batch's signatures:
    * the decision frame is lazy, so a caller that
    * derives every row it needs from one pass over it (the ingest
    * loop's intent, [[Pipeline.kbApplyBatch]]) runs the index probe
    * once. Every read is pinned to the
    * snapshot the probe planned against, so the frames give the same
    * rows after the index mutates. Deterministic for a fixed index
    * state (every window carries a total-order tiebreak), so a caller
    * that crashes after this and re-runs it against the unchanged
    * index derives the identical plan — the property the cross-index
    * ingest transaction ([[Pipeline.corpusKeepBestBm25]]) leans on.
    */
  private[ops] def dedupBatchVsIndexKeepBestDecide(batch: DataFrame,
      dir: String, minSim: Double): DataFrame = {
    val (sigs, pairs) = kbProbePairs(batch, dir, minSim, Seq("toks"))
    kbDecisions(sigs, pairs, minSim, Seq("toks", "sig"))
  }

  /** The COMMIT half: apply a decided replacement wave to the band
    * index — append the band rows of the winners' `(doc_id, sig,
    * quality)` and mark the `doomedIds` (column `doc_id`). `txnApp`
    * stamps the commit with an app-scoped transaction
    * watermark ([[Manifest.lastTxnFor]]) so a crashed-and-restarted
    * ingest loop can detect the already-applied half and skip it —
    * a replayed commit is a no-op.
    */
  private[ops] def dedupBatchVsIndexKeepBestCommit(winners: DataFrame,
      doomedIds: DataFrame, dir: String,
      txnApp: Option[(String, Long)]): Unit = {
    val spark = winners.sparkSession
    // ONE atomic replace commit (round 17): the displaced docs' DV
    // marks and the winners' band rows become visible together — no
    // version exists where a dup group has neither its old nor its
    // new representative. Also halves the loop's per-batch commit
    // count (the two-commit form was pure machinery cost).
    requireGeometry(spark, dir)
    Layout.appendAndDeleteKeys(spark, s"$dir/bands",
      bandRowsFromSigs(winners), doomedIds, "doc_id",
      txnApp = txnApp): Unit
    val thresh = autoCompactThreshold(spark)
    if (thresh > 0 && Layout.maxFilesPerDir(spark, s"$dir/bands") > thresh)
      lshIndexCompact(spark, dir): Unit
  }

  /** DuckDB oracle for [[dedupBatchVsIndexKeepBest]] over the
    * standard [[incrBase]]/[[incrBatch]] split: banded est pairs over
    * the full corpus, the toks-form quality score (identical formula
    * to [[dedupKeepBestOracle]]'s), best corpus match by (quality
    * desc, id asc), strict > for the replacement rule.
    */
  /** The toks-form quality score over the `corpus` CTE — identical
    * formula, term for term, to the engine's tokQuality (and to
    * [[dedupKeepBestOracle]]'s inline copy). Exposed so composed
    * keep-best oracles ([[Pipeline.corpusKeepBestBm25Oracle]]) reuse
    * one definition.
    */
  private[ops] def qualityCte: String =
    s"""q AS MATERIALIZED (SELECT doc_id,
       |    (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.5 +
       |    least(len(toks)::DOUBLE / 100.0, 1.0) * 0.3 +
       |    least(((list_sum(list_transform(toks, w -> length(w))))::DOUBLE
       |           / len(toks)) / 10.0, 1.0) * 0.2 AS quality
       |  FROM corpus)""".stripMargin

  def dedupKeepBestIncrOracle(minSim: Double = 0.5): String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |$minhashEstCtes,
       |batch AS (SELECT doc_id FROM corpus
       |          WHERE doc_id % 50 = 0 OR doc_id % 30 = 7),
       |$qualityCte,
       |sym AS (SELECT id_a AS d, id_b AS o, est_sim FROM est
       |        UNION ALL SELECT id_b, id_a, est_sim FROM est),
       |cm AS (SELECT s.d AS doc_id, s.o AS corpus_id, qo.quality AS q_c
       |       FROM sym s JOIN q qo ON s.o = qo.doc_id
       |       WHERE s.est_sim >= $minSim
       |         AND s.d IN (SELECT doc_id FROM batch)
       |         AND s.o NOT IN (SELECT doc_id FROM batch)),
       |best AS (SELECT doc_id, corpus_id AS best_id, q_c AS best_q
       |  FROM (SELECT doc_id, corpus_id, q_c,
       |          row_number() OVER (PARTITION BY doc_id
       |            ORDER BY q_c DESC, corpus_id ASC) AS rn
       |        FROM cm) WHERE rn = 1),
       |bdup AS (SELECT id_b AS doc_id, min(id_a) AS dup_batch FROM est
       |         WHERE est_sim >= $minSim
       |           AND id_a IN (SELECT doc_id FROM batch)
       |           AND id_b IN (SELECT doc_id FROM batch)
       |         GROUP BY 1)
       |SELECT b.doc_id,
       |  CASE WHEN t.best_id IS NOT NULL AND qd.quality > t.best_q
       |         THEN 'replaced_corpus'
       |       WHEN t.best_id IS NOT NULL THEN 'dup_corpus'
       |       WHEN d.dup_batch IS NOT NULL THEN 'dup_batch'
       |       ELSE 'kept' END AS decision,
       |  coalesce(t.best_id, d.dup_batch, -1) AS dup_of
       |FROM batch b JOIN q qd USING (doc_id)
       |             LEFT JOIN best t USING (doc_id)
       |             LEFT JOIN bdup d USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  // ----------------- the full ingest loop: build -> probe -> append

  /** Batch count of the ingest-loop fixture. */
  val IncrLoopBatches = 3

  /** Residue classes (mod 60) of each loop batch. Chosen so every
    * decision path occurs BY CONSTRUCTION at any SF — the variant
    * offset 1_000_000 ≡ 40 (mod 60), so a doc with residue r has its
    * variant at residue r+40:
    *  - batch 1 = {1, 21}: originals ≡ 21 have their variants at
    *    21+40 ≡ 1 in the SAME batch (dup_batch) while originals ≡ 1
    *    are novel (kept);
    *  - batch 2 = {2, 41}: variants ≡ 41 (of batch-1's kept ≡ 1
    *    originals) and originals ≡ 41 (whose variants ≡ 21 were kept
    *    in batch 1) both match APPENDED docs — the reason index
    *    maintenance exists;
    *  - batch 3 = {3, 42}: originals ≡ 42 match their variants ≡ 22
    *    in the BASE index; variants ≡ 42 (of batch-2's kept ≡ 2
    *    originals) match appended docs again.
    */
  private[ops] def loopResidues(k: Int): Seq[Long] = k match {
    case 1 => Seq(1L, 21L)
    case 2 => Seq(2L, 41L)
    case 3 => Seq(3L, 42L)
  }

  /** Loop batch k of the fixture corpus. */
  def incrLoopBatch(docs: DataFrame, k: Int): DataFrame =
    corpusWithVariants(docs)
      .filter((col("doc_id") % 60).isin(loopResidues(k): _*))

  /** The standing corpus the loop's initial index is built over. */
  def incrLoopBase(docs: DataFrame): DataFrame =
    corpusWithVariants(docs)
      .filter(!(col("doc_id") % 60)
        .isin((1 to IncrLoopBatches).flatMap(loopResidues): _*))

  /** The COMPLETE incremental-ingest loop over the fixture split:
    * build the index on the base corpus, then for each batch k probe
    * it ([[dedupBatchVsIndex]]) and append its kept docs
    * ([[lshIndexAppend]]) so batch k+1 dedups against them too.
    * Output: (batch, doc_id, decision, dup_of). IncrLoopSpec pins the
    * cumulative decisions bit-equal to ONE full-corpus LSH run with
    * the same sequential keep-first semantics — the loop is an
    * O(batch)-per-step refactoring of the O(corpus) batch job, never
    * a different answer.
    *
    * Scale shape: the loop is driver-COORDINATED but never
    * driver-SIZED — each step is the gated map-only probe plus an
    * O(batch) append; the only serial state between steps is the
    * on-disk index. `dir` must be fresh (the build overwrites, the
    * appends accumulate).
    */
  def dedupIncrLoop(docs: DataFrame, dir: String,
      minSim: Double = 0.5): DataFrame = {
    // the loop's index is a THROWAWAY under a temp dir — no master
    // will ever clone from it, so the build-once fingerprint scan
    // (one full tokenize+hash pass of the base corpus) buys nothing:
    // record an ephemeral marker that can never match a content
    // fingerprint, and lshIndexFresh refuses it exactly like a stale
    // master (round 19 — guide §1.2, drop work the query throws away)
    lshIndexBuild(incrLoopBase(docs), dir,
      corpusId = Some(s"ephemeral:$dir"))
    val parts = (1 to IncrLoopBatches).map { k =>
      val batch = incrLoopBatch(docs, k)
      // materialize THIS batch's decisions before the append mutates
      // the index the decision frame lazily reads (unsorted — the
      // final union carries the query's (batch, doc_id) total order)
      val (dec0, sigs) = dedupBatchVsIndexCore(batch, dir, minSim,
        ordered = false)
      val dec = iterCheckpoint(dec0)
      val keptIds = dec.filter(col("decision") === "kept").select("doc_id")
      // append from the probe's already-materialized signatures — the
      // batch is tokenized + min-hashed exactly once per loop step
      lshIndexAppendFromSigs(sigs.join(keptIds, "doc_id"), dir)
      dec.select(lit(k).as("batch"), col("doc_id"), col("decision"),
        col("dup_of"))
    }
    parts.reduce(_ unionByName _).orderBy("batch", "doc_id")
  }

  /** DuckDB oracle for [[dedupIncrLoop]]: the banded est pairs over
    * the full corpus ([[minhashEstCtes]], identical constants), then
    * the three probe/append steps UNROLLED — batch k's corpus matches
    * are taken against base ∪ kept(1..k-1), exactly the index the
    * engine has on disk when batch k arrives.
    */
  def dedupIncrLoopOracle(minSim: Double = 0.5): String = {
    def in(k: Int) = loopResidues(k).mkString(", ")
    // one probe step: decisions of batch k against index CTE `idx`
    def step(k: Int, idx: String) =
      s"""c$k AS (SELECT s.d AS doc_id, min(s.o) AS dup_corpus
         |  FROM sym s JOIN m md ON s.d = md.doc_id AND md.b = $k
         |             JOIN $idx i ON s.o = i.doc_id
         |  GROUP BY 1),
         |bb$k AS (SELECT g.id_b AS doc_id, min(g.id_a) AS dup_batch
         |  FROM good g JOIN m ma ON g.id_a = ma.doc_id AND ma.b = $k
         |              JOIN m mb ON g.id_b = mb.doc_id AND mb.b = $k
         |  GROUP BY 1),
         |d$k AS (SELECT mm.doc_id,
         |    CASE WHEN c$k.dup_corpus IS NOT NULL THEN 'dup_corpus'
         |         WHEN bb$k.dup_batch IS NOT NULL THEN 'dup_batch'
         |         ELSE 'kept' END AS decision,
         |    coalesce(c$k.dup_corpus, bb$k.dup_batch, -1) AS dup_of
         |  FROM m mm LEFT JOIN c$k USING (doc_id)
         |            LEFT JOIN bb$k USING (doc_id)
         |  WHERE mm.b = $k),
         |idx$k AS (SELECT doc_id FROM $idx
         |  UNION ALL SELECT doc_id FROM d$k WHERE decision = 'kept')"""
        .stripMargin
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |corpus AS (
       |  SELECT doc_id, toks FROM base WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT doc_id + $VariantIdOffset, toks[2:] FROM base WHERE len(toks) > 3),
       |$minhashEstCtes,
       |m AS (SELECT doc_id,
       |    CASE WHEN doc_id % 60 IN (${in(1)}) THEN 1
       |         WHEN doc_id % 60 IN (${in(2)}) THEN 2
       |         WHEN doc_id % 60 IN (${in(3)}) THEN 3 ELSE 0 END AS b
       |  FROM corpus),
       |good AS (SELECT id_a, id_b FROM est WHERE est_sim >= $minSim),
       |sym AS (SELECT id_a AS d, id_b AS o FROM good
       |        UNION ALL SELECT id_b, id_a FROM good),
       |idx0 AS (SELECT doc_id FROM m WHERE b = 0),
       |${step(1, "idx0")},
       |${step(2, "idx1")},
       |${step(3, "idx2")}
       |SELECT 1 AS batch, * FROM d1
       |UNION ALL SELECT 2 AS batch, * FROM d2
       |UNION ALL SELECT 3 AS batch, * FROM d3
       |ORDER BY batch, doc_id""".stripMargin
  }
}
