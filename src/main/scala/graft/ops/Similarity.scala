package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`, 64-dim,
  * unit-norm in the driver data): brute-force cosine top-k as the
  * exact baseline and a random-hyperplane-LSH bucketed variant as the
  * scale path.
  *
  * Scale posture (100 TB):
  *  - brute force is quadratic and exists as the correctness baseline
  *    and for small query sets (queries x corpus via broadcast of the
  *    query side — no shuffle of the corpus).
  *  - the LSH variant buckets the corpus once (map-only projection
  *    onto shared deterministic hyperplanes), then joins query to
  *    corpus on bucket equality: shuffle O(corpus), candidate sets
  *    O(corpus / 2^planes). Recall is tuned by planes count and
  *    multi-probe (flip-1-bit) expansion.
  *  - all arithmetic is double-precision with a fixed fold order so
  *    results are reproducible across engines.
  */
object Similarity {

  val VariantIdOffset = 1000000L

  /** Cast a float embedding to double for deterministic arithmetic. */
  private[ops] def asDouble(e: Column): Column = transform(e, x => x.cast("double"))

  /** Codegen'd custom expression (graft.functions.DotProduct): the
    * higher-order `aggregate(zip_with(...))` formulation is
    * interpreted per element and dominates pairwise runtime. Same
    * left-to-right summation order, bit-identical results.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  private[ops] def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Embedding near-dup: vec_id % 5 = 0 subset unioned with perturbed
    * copies (first component + 0.5, id + 1_000_000); report pairs with
    * cosine >= minSim. Natural pairs top out near 0.44, perturbed
    * copies near 0.99.
    */
  /** Rows the exact-cosine baseline's sampled side is capped at —
    * above the sf0.1 fixture's 800 vectors, so every base fixture
    * resolves to stride 1 (unsampled, bit-identical history) and the
    * cross-join work is O([[EmbedTruthCap]] · n) past that (see
    * [[TruthSample]]).
    */
  val EmbedTruthCap = 1024L

  def embeddingNearDup(emb: DataFrame, minSim: Double = 0.9): DataFrame = {
    val base = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val variants = base.select((col("vec_id") + VariantIdOffset).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.5)),
        slice(col("v"), 2, 63)).as("v"))
    // norms once per vector (O(n·d)), not once per pair (O(n²·d))
    val all = base.unionByName(variants)
      .withColumn("nrm", norm(col("v")))
    // sampled exact truth past the base fixtures (stride 1 there):
    // pairs whose SMALLER id hash-samples in — the left side is
    // bounded by EmbedTruthCap rows, so broadcasting it keeps the
    // corpus side streaming with no shuffle at any scale
    val stride = TruthSample.strideFor(2L * base.count(), EmbedTruthCap)
    val left =
      if (stride == 1L) all
      else all.filter(TruthSample.keep(col("vec_id"), "t_", stride))
    broadcast(left).as("a")
      .join(all.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
      .orderBy("id_a", "id_b")
  }

  def embeddingNearDupOracle(minSim: Double = 0.9): String =
    s"""WITH base AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |allv AS (
       |  SELECT vec_id, v FROM base
       |  UNION ALL
       |  SELECT vec_id + $VariantIdOffset, [v[1] + 0.5] || v[2:] FROM base),
       |par AS (SELECT ${TruthSample.strideLadderSql("cnt", EmbedTruthCap)}
       |    AS stride FROM (SELECT count(*) AS cnt FROM allv)),
       |lefts AS (SELECT vec_id, v FROM allv CROSS JOIN par
       |  WHERE ${TruthSample.duckKeepSql("vec_id", "t_", "stride")}),
       |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))),
       |      6) AS cos_sim
       |  FROM lefts a JOIN allv b ON a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= $minSim
       |ORDER BY id_a, id_b""".stripMargin

  /** Brute-force cosine top-k: for each query (vec_id < nQueries) rank
    * every other vector by rounded cosine desc, id asc. The ranking key
    * is the ROUNDED similarity so ordering is engine-reproducible.
    */
  def knnBruteForce(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val scored = broadcast(queries)
      .join(all, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rn")
  }

  def knnBruteForceOracle(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH allv AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM allv WHERE vec_id < $nQueries),
       |scored AS (SELECT query_id, vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))),
       |      6) AS cos_sim
       |  FROM q JOIN allv ON query_id <> vec_id),
       |ranked AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
       |  FROM scored)
       |SELECT query_id, rn, neighbor_id, cos_sim FROM ranked WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin

  // ----------------------------------------------------------- LSH ANN

  val Planes = 4

  /** The sign-LSH planes ladder: smallest p in [4, 24] with
    * 2^p >= n, i.e. at least as many buckets as vectors, so expected
    * bucket occupancy stays O(1) and candidate volume stays ~linear
    * at ANY corpus size. Pure integer thresholds (no float log2), so
    * the DuckDB twin ([[planesLadderSql]]) is bit-identical at every
    * boundary.
    */
  def planesFor(n: Long): Int =
    (4 to 24).find(p => n <= (1L << p)).getOrElse(24)

  /** SQL twin of [[planesFor]] over a column/expression `cnt`. */
  def planesLadderSql(cnt: String): String =
    (4 to 23).map(p => s"WHEN $cnt <= ${1L << p} THEN $p")
      .mkString("(CASE ", " ", " ELSE 24 END)")

  /** Expected per-bucket occupancy the kNN ladder holds constant. */
  val KnnTargetBucket = 32L

  /** The kNN planes ladder: smallest p in [4, 24] with
    * n <= [[KnnTargetBucket]] * 2^p. The near-dup ladder
    * ([[planesFor]]) must track 2^p ~ n because its output is a PAIR
    * join (candidate volume ~n²/2^p); a top-k search instead scans
    * ~nQueries * (p+1) * n/2^p candidates, so the right invariant is
    * constant bucket occupancy — each probe inspects O(TargetBucket)
    * vectors and per-query work stays ~TargetBucket*(p+1) at every
    * corpus size (sub-linear total), while p grows only as
    * log2(n/TargetBucket), preserving multi-probe recall far better
    * than the pair ladder would (radius-1 recall decays with p).
    * Resolves to the historical fixed Planes=4 on the 500-vector
    * fixture, so fixture results and QualitySpec recall floors are
    * unchanged by adaptivity. Pure integer thresholds; the DuckDB
    * twin ([[knnPlanesLadderSql]]) is bit-identical at every boundary.
    */
  def knnPlanesFor(n: Long): Int =
    (4 to 24).find(p => n <= (KnnTargetBucket << p)).getOrElse(24)

  /** SQL twin of [[knnPlanesFor]] over a column/expression `cnt`. */
  def knnPlanesLadderSql(cnt: String): String =
    (4 to 23).map(p => s"WHEN $cnt <= ${KnnTargetBucket << p} THEN $p")
      .mkString("(CASE ", " ", " ELSE 24 END)")

  /** Deterministic random hyperplane p (0-based): component d in
    * [-1, 1), derived from md5("p_<p>_<d>") identically in both
    * engines; division by 2^30 is exact in binary.
    */
  private def planeComponent(p: Int, d: Int, salt: String = ""): Double = {
    val h60 = graft.functions.Md5Prefix60
      .fromBytes(s"${salt}p_${p}_$d".getBytes("UTF-8"))
    ((h60 % 1073741824L) * 2 - 1073741824L).toDouble / 1073741824.0
  }

  /** Plane p as a LITERAL array column, hashed once on the driver
    * (same md5-prefix integer arithmetic as [[H.hash30]], so the
    * values are bit-identical to the oracle's in-SQL derivation —
    * division by 2^30 is exact in binary). The earlier formulation
    * — `transform(sequence(1,64), d => hash30(...))` — looked
    * constant but was NOT constant-folded (Catalyst never folds
    * under a higher-order lambda), so every ROW recomputed 64 md5
    * digests per plane: at the 200k-vector corpus with the 13-plane
    * ladder that was ~166M digests per table and the dominant cost
    * of every sign-LSH scan (measured at mult=100: knnLsh
    * 18.6 s -> 3.7 s, knnLshTables(4) 71.4 s -> 4.0 s, knnLshProbe
    * 18.5 s -> 1.2 s, embeddingNearDupLsh 19.3 s -> 4.3 s).
    */
  private def planeVec(p: Int, salt: String = "", dim: Int = 64): Column =
    typedLit((1 to dim).map(d => planeComponent(p, d, salt)))

  /** Sign-projection bucket id over `planes` hyperplanes.
    *
    * `planes` is THE scale knob of every sign-LSH consumer. Pair
    * scans (near-dup) need planes ~ log2(n) for linear output
    * ([[planesFor]] — the 2000-vector bench fixture resolves to 10);
    * top-k searches need constant bucket occupancy ([[knnPlanesFor]]
    * — the 500-vector oracle fixture resolves to the historical
    * [[Planes]]=4). Both ladders are statistics-adaptive with
    * engine-paired SQL twins, and QualitySpec pins the recall
    * trade-off each setting buys (more planes = fewer candidates =
    * lower radius-1 multi-probe recall), so the choice is measured,
    * not implied.
    */
  def lshBucket(v: Column, planes: Int = Planes, salt: String = "",
      dim: Int = 64): Column =
    (0 until planes).map { p =>
      when(dot(v, planeVec(p, salt, dim)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN: top-k neighbors per query (vec_id < nQueries)
    * searched only within the query's LSH bucket. `planes <= 0` —
    * the default — resolves adaptively from a plan-time corpus count
    * via [[knnPlanesFor]] (the oracle computes the identical ladder
    * as a SQL scalar subquery), so per-probe candidate work stays
    * O([[KnnTargetBucket]]) at every corpus size.
    */
  def knnLsh(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      planes: Int = 0, dim: Int = 64): DataFrame = {
    val p = if (planes > 0) planes else knnPlanesFor(emb.count())
    val all = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), p, "", dim))
      .withColumn("nrm", norm(col("v")))
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("bucket").as("qbucket"), col("nrm").as("qnrm"))
    val scored = broadcast(queries)
      .join(all, col("qbucket") === col("bucket") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rn")
  }

  /** Multi-probe bucketed ANN: like [[knnLsh]], but each query also
    * probes the buckets at Hamming distance 1 from its own (flip each
    * plane bit) — the standard recall fix for sign-LSH, where a
    * near-neighbor disagreeing on one hyperplane lands one bit away.
    * Candidate volume grows ~(planes+1)x but stays O(n / 2^planes)
    * per query; the corpus is never rescanned (the probe fan-out is
    * on the tiny broadcast query side only, so the corpus-side plan
    * is identical to single-probe).
    */
  def knnLshProbe(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      planes: Int = 0): DataFrame = {
    val p = if (planes > 0) planes else knnPlanesFor(emb.count())
    val all = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), p))
      .withColumn("nrm", norm(col("v")))
    val probeMasks = array((lit(0L) +:
      (0 until p).map(i => lit(1L << i))): _*)
    // buckets partition the corpus and probe targets are distinct, so
    // each (query, neighbor) pair matches via at most one probe — no
    // dedup needed downstream
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"),
        explode(transform(probeMasks, m => col("bucket").bitwiseXOR(m)))
          .as("pbucket"))
    val scored = broadcast(queries)
      .join(all, col("pbucket") === col("bucket") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rn")
  }

  /** Recall@k of the multi-probe LSH search against the exact
    * brute-force ranking, one row per query — the measurement that
    * justifies shipping the approximate path. Both rankings use the
    * same rounded-cosine + id tiebreak, so the recall is
    * engine-reproducible.
    */
  def knnLshRecall(emb: DataFrame, nQueries: Int = 50, k: Int = 3): DataFrame = {
    val exact = knnBruteForce(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = knnLshProbe(emb, nQueries, k)
      .select(col("query_id").as("aq"), col("neighbor_id").as("hit_id"))
    exact.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("hit_id"),
        "left")
      .groupBy("query_id")
      .agg(round(count(col("hit_id")) / lit(k.toDouble), 4).as("recall"))
      .orderBy("query_id")
  }

  /** Multi-table bucketed ANN: `tables` INDEPENDENT sign-LSH hash
    * tables (each its own salted hyperplane set, each sized by the
    * [[knnPlanesFor]] ladder), a query's candidates being the union
    * of its bucket in every table. This is the standard
    * recall-at-scale device the single-table searches can't offer:
    * multiprobe recall decays as planes grow with the corpus
    * (P(<=1 flip of p) falls with p), while L independent tables hold
    * P(miss) = (1 - P(collide))^L at ANY corpus size for a constant
    * L·[[KnnTargetBucket]] candidate budget per query.
    *
    * Plan shape: per table, one broadcast of the (tiny) query side
    * and one map-only broadcast-hash join of the corpus on bucket
    * equality — the corpus never shuffles for candidate generation;
    * the only exchanges are the dedup/rank over the bounded candidate
    * stream. A pair colliding in several tables scores identically in
    * each (same rounded cosine), so the dedup `max` is
    * order-independent and oracle-reproducible.
    */
  def knnLshTables(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      tables: Int = 4, planes: Int = 0): DataFrame = {
    val p = if (planes > 0) planes else knnPlanesFor(emb.count())
    // ONE corpus scan computes every table's bucket (a union of
    // per-table pipelines would re-read and re-decode the embedding
    // column `tables` times — parquet decode of the vectors is the
    // dominant linear cost); posexplode then yields (table, bucket)
    // rows in-memory, and the per-table candidate join becomes a
    // single broadcast-hash join on the COMPOSITE (table, bucket) key.
    // Still map-only on the corpus side: no shuffle before the
    // bounded candidate stream's dedup/rank. The buckets come from
    // the codegen'd [[graft.functions.LshTableBuckets]] (plane matrix
    // as a reference object): composing tables x planes literal-array
    // dots as Columns inlines 52 64-double literals into one generated
    // method and falls out of compiled execution (measured 105 s at
    // mult=100 vs ~2 s for the tight loop).
    val planeMatrix: Array[Array[Array[Double]]] =
      Array.tabulate(tables, p, 64)((t, pp, d) =>
        planeComponent(pp, d + 1, s"t${t}_"))
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("buckets", graft.functions.VectorFunctions
        .lsh_table_buckets(col("v"), planeMatrix))
    val all = base.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(col("buckets")).as(Seq("tbl", "bucket")))
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("tbl").as("qtbl"), col("bucket").as("qbucket"),
        col("nrm").as("qnrm"))
    val cands = broadcast(queries)
      .join(all, col("qtbl") === col("tbl") &&
        col("qbucket") === col("bucket") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
    val dedup = cands.groupBy("query_id", "neighbor_id")
      .agg(max(col("cos_sim")).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    dedup.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rn")
  }

  /** Recall@k of the multi-table search against the exact brute-force
    * ranking — the measurement that justifies the L-table candidate
    * budget (QualitySpec pins its floor next to the multiprobe one).
    */
  def knnLshTablesRecall(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      tables: Int = 4): DataFrame = {
    val exact = knnBruteForce(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = knnLshTables(emb, nQueries, k, tables)
      .select(col("query_id").as("aq"), col("neighbor_id").as("hit_id"))
    exact.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("hit_id"),
        "left")
      .groupBy("query_id")
      .agg(round(count(col("hit_id")) / lit(k.toDouble), 4).as("recall"))
      .orderBy("query_id")
  }

  /** LSH-bucketed embedding near-dup — the scale path for
    * [[embeddingNearDup]]: candidates only form inside a shared
    * hyperplane bucket (shuffle O(n), candidate sets O(n/2^planes)
    * per bucket) instead of the all-pairs cross join.
    *
    * MULTI-PROBE: one side also probes the buckets at Hamming
    * distance 1 (flip each plane bit), so near-dups that disagree on
    * a single hyperplane are still candidates — recall goes from
    * P(0 flips) to P(<=1 flip) for ~5x the candidate volume, still
    * O(n), never all-pairs.
    */
  def embeddingNearDupLsh(emb: DataFrame, minSim: Double = 0.9,
      planes: Int = 0): DataFrame = {
    val base = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val variants = base.select((col("vec_id") + VariantIdOffset).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.5)),
        slice(col("v"), 2, 63)).as("v"))
    // planes <= 0 -> ADAPTIVE: the integer ladder on the corpus size
    // (base + variants), resolved as one plan-time scalar count — the
    // same AQE-style statistics-driven choice the oracle makes with a
    // SQL scalar subquery, so the two engines always pick the same p
    // and candidate volume stays ~linear at every scale factor.
    val p = if (planes > 0) planes else planesFor(2L * base.count())
    nearDupPairsV(base.unionByName(variants), minSim, p)
      .orderBy("id_a", "id_b")
  }

  /** General sign-LSH near-dup pair scan over a (vec_id, v: double[])
    * frame: bucket on `planes` hyperplanes, multiprobe radius 1,
    * equi-join on the bucket key (never a cross join), exact cosine
    * filter on candidates. Candidate volume ~n^2*(planes+1)/2^planes:
    * pick planes ~ log2(n) for linear output at corpus scale
    * (PLANS.md "Wave 5" records that setting's 10x-corpus run).
    */
  def nearDupPairsV(allV: DataFrame, minSim: Double,
      planes: Int, dim: Int = 64): DataFrame = {
    val all = allV
      .withColumn("bucket", lshBucket(col("v"), planes, "", dim))
      .withColumn("nrm", norm(col("v")))
    val probeMasks = array((lit(0L) +:
      (0 until planes).map(p => lit(1L << p))): _*)
    val probed = all.select(col("vec_id"), col("v"), col("nrm"),
      explode(transform(probeMasks, m => col("bucket").bitwiseXOR(m)))
        .as("pbucket"))
    // shuffle_hash (round-13, was merge): the join payload is the
    // 64-dim vector itself — hash-joining the bucket keys avoids
    // sort-spilling fat rows at corpus scale (build side = the
    // un-exploded bucket table's shuffle partition). Caveat: the SHJ
    // build map does not spill; a single bucket beyond AQE's skew
    // split would OOM where merge degrades. LSH buckets are hash-
    // balanced by construction, so this needs adversarially-aligned
    // vectors — see Dedup.minhashPairs for the fallback note.
    probed.as("a")
      .join(all.as("b").hint("shuffle_hash"),
        col("a.pbucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
  }

  def embeddingNearDupLshOracle(minSim: Double = 0.9): String = {
    def dotPlane(p: Int): String =
      s"""list_sum(list_transform(range(1, 65), d -> v[d] *
         |      ((${H.duckHash30(s"'p_${p}_' || d::VARCHAR")} * 2 - 1073741824)::DOUBLE
         |        / 1073741824)))""".stripMargin
    // conditional bit terms up to the ladder cap: term p contributes
    // only when p < planes, so the STATIC oracle text evaluates the
    // same data-dependent bucket the Spark side builds from its
    // plan-time count
    val bucket = (0 until 24).map { p =>
      s"CASE WHEN $p < planes AND ${dotPlane(p)} > 0 " +
        s"THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH base AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |allv AS (
       |  SELECT vec_id, v FROM base
       |  UNION ALL
       |  SELECT vec_id + $VariantIdOffset, [v[1] + 0.5] || v[2:] FROM base),
       |par AS (SELECT ${planesLadderSql("cnt")} AS planes
       |  FROM (SELECT count(*) AS cnt FROM allv)),
       |bucketed AS (SELECT vec_id, v, planes,
       |    ($bucket)::BIGINT AS bucket
       |  FROM allv CROSS JOIN par),
       |probed AS (SELECT vec_id, v,
       |    unnest([bucket] || list_transform(range(0, planes),
       |      p -> xor(bucket, (1::BIGINT << p)))) AS pbucket
       |  FROM bucketed),
       |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))),
       |      6) AS cos_sim
       |  FROM probed a JOIN bucketed b
       |    ON a.pbucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= $minSim
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** SemDeDup-style semantic dedup (round 14): connected components
    * over the embedding cosine near-dup graph — the decision stage
    * that turns pairwise embedding matches into cluster
    * representatives, exactly as [[Dedup.minhashClusters]] does for
    * lexical matches. Composition of two already-scale-proven pieces:
    * the sign-LSH bucketed pair scan ([[embeddingNearDupLsh]] — equi
    * join on bucket keys, never all-pairs) feeding the frontier label
    * propagation ([[Dedup.propagateLabels]] — delta-only rounds,
    * gated broadcast, pinned to 10M-edge hub graphs by HubGraphSpec).
    * Output: (canonical_id, cluster_size) per near-dup cluster.
    */
  def embeddingClusters(emb: DataFrame, minSim: Double = 0.9): DataFrame =
    Dedup.propagateLabels(
      embeddingNearDupLsh(emb, minSim).select("id_a", "id_b"))

  /** [[embeddingClusters]] over ANY prepared `(vec_id, v: double[])`
    * frame at ANY embedding width — the production-path form
    * (Dim512Spec builds and executes it at d=512 under strict
    * codegen): the [[nearDupPairsV]] bucketed pair scan feeding
    * [[Dedup.propagateLabels]].
    */
  def embeddingClustersV(allV: DataFrame, minSim: Double,
      planes: Int, dim: Int): DataFrame =
    Dedup.propagateLabels(
      nearDupPairsV(allV, minSim, planes, dim).select("id_a", "id_b"))

  /** DuckDB twin: the LSH pair oracle wrapped in the same recursive
    * reachability CTE as [[Dedup.minhashClustersOracle]].
    */
  def embeddingClustersOracle(minSim: Double = 0.9): String =
    s"""WITH RECURSIVE lshpairs AS (${embeddingNearDupLshOracle(minSim)
          .replace("ORDER BY id_a, id_b", "")}),
       |edges AS (SELECT id_a, id_b FROM lshpairs
       |          UNION SELECT id_b, id_a FROM lshpairs),
       |nodes AS (SELECT DISTINCT id_a AS id FROM edges),
       |reach(id, root) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.id_b, r.root FROM reach r JOIN edges e ON e.id_a = r.id),
       |labels AS (SELECT id, min(root) AS label FROM reach GROUP BY id)
       |SELECT min(id) AS canonical_id, count(*) AS cluster_size
       |FROM labels GROUP BY label ORDER BY canonical_id""".stripMargin

  // ----------------------------------------------------------- IVF ANN

  /** Fixture-scale centroid stride (every `CentroidStride`-th vector
    * seeds a coarse centroid; the quantizer is then refined with
    * [[LloydRounds]] Lloyd iterations, see [[trainedCents]] —
    * deterministic end to end, so both engines derive identical
    * cells). Past 1024 training vectors the stride adapts via
    * [[ivfStrideFor]].
    */
  val CentroidStride = 40L

  /** Lloyd refinement rounds for the coarse quantizer. One round on
    * the fixture cuts max-cell skew 1.30 -> 1.22 and lifts recall@3
    * at nprobe=2 from 0.32 to 0.43 (PLANS.md, round 5).
    */
  val LloydRounds = 1

  /** Adaptive centroid stride: the smallest power-of-two s with
    * n <= s², floored at [[CentroidStride]] — i.e. cells grow as
    * ~sqrt(n), the standard IVF sizing. Round-11 measurement
    * (SURVEY.md, 200k vectors): the FIXED stride 40 put 5,000 cells
    * on the quantizer, and the build paid 16 s training (train x C
    * cross join), ~20 s n x C assignment, and a 40 s 5,000-directory
    * partitioned write — 56 s end to end, all three terms linear in
    * C. The sqrt ladder resolves 512 there (390 cells), cutting every
    * term ~13x; probe cost stays O(n·nprobe/C) per query and recall
    * at fixed nprobe RISES (each probed cell covers more corpus).
    * Base fixtures (n <= 1024) resolve to the historical 40, so
    * fixture results and QualitySpec floors are unchanged. Pure
    * integer thresholds; [[ivfStrideLadderSql]] is the bit-identical
    * DuckDB twin, resolved over the same corpus the quantizer trains
    * on.
    */
  private[ops] def ivfStrideFor(n: Long): Long =
    if (n <= 1024) CentroidStride
    else (6 to 14).find(k => n <= (1L << (2 * k))).map(1L << _)
      .getOrElse(1L << 15)

  /** SQL twin of [[ivfStrideFor]] over a count expression. */
  def ivfStrideLadderSql(cnt: String): String =
    s"(CASE WHEN $cnt <= 1024 THEN $CentroidStride " +
      (6 to 14).map(k => s"WHEN $cnt <= ${1L << (2 * k)} THEN ${1L << k}")
        .mkString(" ") +
      s" ELSE ${1L << 15} END)"

  /** Version tag of the quantizer-sizing policy, embedded in
    * persisted-index scratch paths so a policy change invalidates
    * indexes built under the old one (round-11: fixed stride ->
    * sqrt ladder).
    */
  val QuantizerVersion = 2

  /** Fixed-point scale for the Lloyd centroid mean: components are
    * quantized to round(x * FixPoint) longs and SUMMED AS INTEGERS,
    * which is exactly associative — the mean is identical under any
    * partial-aggregation order, so Spark's distributed sum and
    * DuckDB's single-node sum produce bit-identical centroids. A
    * double-sum mean would differ in the last bits by fold order and
    * poison the rounded-cosine tiebreaks downstream.
    */
  val FixPoint = 1000000L

  /** Fixed Lloyd-training sample size: the quantizer trains on the
    * `TrainSample` vectors with the smallest deterministic hash
    * (md5-derived, tiebreak vec_id — identical ordering in both
    * engines), NOT the full corpus. K-means quality needs O(samples
    * per centroid), not O(corpus): training on everything made
    * `ivfBuild` n^1.5 (two full n x C passes per Lloyd round — 182 s
    * at the mult=1000 smoke), while a fixed-size sample makes training
    * cost independent of corpus size and leaves the one linear
    * assignment pass as the only full-corpus work. Serving-scale
    * builds pass an explicit sample (~[[TrainPerCell]] x cells, see
    * [[ivfBuild]]); this default covers the fixture-scale oracle
    * queries.
    */
  val TrainSample = 1600

  /** Training vectors per centroid for serving-scale builds: with
    * cells grown as sqrt(n), a 32x-cells sample keeps Lloyd cost at
    * O(32·C²) = O(32·n) — linear, and vanishing next to the
    * assignment pass.
    */
  val TrainPerCell = 32

  /** Deterministic training-sample hash — the cross-engine ordering
    * key for the LIMIT-sample (salted so it is independent of every
    * other hash-derived decision in the pipeline).
    */
  private def trainHash(id: Column): Column =
    H.hash30(concat(lit("tr_"), id.cast("string")))

  /** Seed centroids by the deterministic stride sample, then run
    * [[LloydRounds]] iterations of Lloyd's algorithm over the
    * hash-smallest `trainSample` vectors: assign each training vector
    * to its nearest centroid (broadcast argmax — map-side-combinable
    * struct-max over a SAMPLE-sized stream, never n x C), then move
    * each centroid to the fixed-point mean of its training cell. At
    * 100 TB the training passes touch O(trainSample) rows per round —
    * corpus-size-independent; the sample selection itself is one
    * TakeOrdered over the corpus. Cells keep their seed's id, so
    * downstream tiebreaks (`cid` asc) stay stable; a cell with no
    * training member drops out (deterministically — the oracle's CTE
    * chain drops it too).
    */
  private[ops] def trainedCents(all: DataFrame,
      stride: Long = 0L,
      trainSample: Int = TrainSample): DataFrame = {
    // stride <= 0 -> ADAPTIVE: the sqrt ladder on the training corpus
    // size, resolved as one plan-time count — the same
    // statistics-driven device as the LSH planes ladders, mirrored by
    // the oracle's scalar-subquery ladder over its trainFrom CTE
    val s = if (stride > 0) stride else ivfStrideFor(all.count())
    var cents = all.filter(col("vec_id") % s === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm"))
    val train = all
      .withColumn("trh", trainHash(col("vec_id")))
      .orderBy(col("trh"), col("vec_id"))
      .limit(trainSample)
      .select(col("vec_id"), col("v"), col("nrm"))
    for (_ <- 1 to LloydRounds) {
      val scored = train.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("cid"),
          round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
            .as("ccos"))
      val assigned = scored.groupBy("vec_id")
        .agg(max(struct(col("ccos"), (-col("cid")).as("negcid"))).as("best"),
          first(col("v")).as("v"))
        .select(col("v"), (-col("best.negcid")).as("cell"))
      val perDim = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("cell"), col("dim"),
          round(col("x") * FixPoint).cast("long").as("q"))
        .groupBy("cell", "dim")
        .agg(sum("q").as("s"), count(lit(1)).as("n"))
      cents = perDim
        .groupBy("cell")
        .agg(collect_list(struct(col("dim"),
          (col("s").cast("double") / (col("n") * lit(FixPoint.toDouble)))
            .as("x"))).as("parts"))
        .select(col("cell").as("cid"),
          transform(array_sort(col("parts")), p => p.getField("x")).as("cv"))
        .withColumn("cnrm", norm(col("cv")))
    }
    cents
  }

  /** Corpus -> cell assignment as a map-only pass: collect the trained
    * centroid table (O(C) driver rows — the same data every broadcast
    * of `cents` already ships) and run the codegen'd
    * [[graft.functions.NearestCell]] argmax per row. Replaces the
    * `crossJoin(broadcast(cents)) + groupBy struct-max` formulation,
    * which materialized an n x C scored stream before the partial agg
    * collapsed it — the dominant cost of [[ivfBuild]] at the scale
    * smoke. Ranking-identical (differential-tested in
    * NearestCellSpec): same rounded cosine, same smallest-cid
    * tiebreak.
    */
  private def collectCents(
      cents: DataFrame): Array[(Long, Array[Double], Double)] =
    cents.orderBy("cid").collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

  /** Rebalance a kernel-bound stream to the session's full
    * parallelism. The per-row ANN kernels (NearestCell assignment,
    * pq_encode) cost O(C·d) flops per vector — tens of Gflops over a
    * corpus — but a compact vector table is a HANDFUL of parquet
    * bytes (the mult=100 embeddings are 34 MB), so the scan planner
    * hands the whole corpus to 1-2 input partitions and the kernel
    * runs on 1-2 of 32 cores (measured: 17 s of the 19 s
    * ns_media_knn wall). One round-robin repartition (~1 s for the
    * 256 MB decoded stream) unlocks every core; at real scale the
    * input already has >= defaultParallelism partitions and this is
    * an exact no-op, so no extra shuffle ever reaches a cluster plan.
    *
    * Size floor (round-13, adjudicating the round-12 golden break):
    * an input under ~8 MiB by optimizer stats is a FIXTURE or
    * small-sf run where the kernel finishes in milliseconds either
    * way — the repartition there is pure Exchange tax (it cost the
    * sf0.1 knn family 0.3-0.5 s each and flipped the pinned
    * ns_knn_pq_rerank plan from Exchange:3 to 4). Parquet-scan stats
    * are exact file sizes, so the floor is deterministic for every
    * golden-pinned path; a stats-less input (e.g. a localCheckpoint
    * that reports the default huge estimate) errs toward
    * repartitioning, which is the safe direction at unknown scale.
    */
  private[graft] val FanOutFloorBytes = 8L << 20

  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= FanOutFloorBytes && df.rdd.getNumPartitions < par)
      df.repartition(par)
    else df
  }

  private def assignCells(all: DataFrame,
      centArr: Array[(Long, Array[Double], Double)]): DataFrame =
    fanOut(all).withColumn("cell", graft.functions.VectorFunctions.nearest_cell(
      col("v"), col("nrm"),
      centArr.map(_._1), centArr.map(_._2), centArr.map(_._3)))

  /** The collected centroid table back as a (local-relation) frame for
    * the query-probe side — the trained-quantizer plan executes ONCE
    * (at [[collectCents]]) instead of once per consumer.
    */
  private def centsDf(spark: org.apache.spark.sql.SparkSession,
      centArr: Array[(Long, Array[Double], Double)]): DataFrame = {
    import spark.implicits._
    centArr.toSeq.map(c => (c._1, c._2.toSeq, c._3))
      .toDF("cid", "cv", "cnrm")
  }

  /** IVF (inverted-file) ANN: assign every vector to its nearest
    * coarse centroid ("cell"), then answer each query by brute-forcing
    * only the `nprobe` cells nearest the query.
    *
    * Scale posture: assignment is the map-only codegen'd
    * [[graft.functions.NearestCell]] argmax over the collected
    * centroid table — zero shuffle, no n x C intermediate stream; the
    * probe join shuffles only on cell id, so candidate volume is
    * O(n * nprobe / C) per query instead of O(n). Only the (tiny)
    * query side scores against every centroid, to pick its `nprobe`
    * nearest cells.
    */
  def knnIvf(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      nprobe: Int = 2, trainSample: Int = TrainSample): DataFrame = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val centArr = collectCents(
      trainedCents(all, 0L, trainSample))
    val assigned = assignCells(all, centArr)
    val cents = centsDf(emb.sparkSession, centArr)
    val qscored = all.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"),
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))
    val wProbe = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val qprobes = qscored
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cid").as("cell"))
    val cand = broadcast(qprobes)
      .join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
    val wK = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    cand.withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rn")
  }

  def knnIvfOracle(nQueries: Int = 50, k: Int = 3, nprobe: Int = 2,
      trainSample: Int = TrainSample): String =
    knnIvfOracleFrom(
      s"""allv AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings)""".stripMargin, nQueries, k, nprobe, trainSample)

  /** [[knnIvfOracle]] over any `allv(vec_id, v)` CTE — lets the same
    * IVF search oracle run over derived vectors (e.g. the multimodal
    * [[Multimodal.mediaEmbeddingCte]]), not just the embeddings table.
    * `trainFrom` names the CTE the quantizer trains on (seed + Lloyd
    * sample); assignment and queries always run over `allv` — the
    * incremental-append oracle passes a base-only CTE here to model
    * an index whose quantizer predates the appended batch.
    */
  def knnIvfOracleFrom(allvCte: String, nQueries: Int, k: Int,
      nprobe: Int, trainSample: Int = TrainSample,
      trainFrom: String = "allv"): String =
    s"""WITH ${ivfRankedCtes(allvCte, nQueries, nprobe, trainSample, trainFrom)}
       |SELECT query_id, rn, neighbor_id, cos_sim FROM ranked WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin

  /** CTE chain (allv -> ... -> ranked) shared by the IVF oracles.
    * Mirrors [[trainedCents]]: stride seed `cents_0`, the
    * hash-smallest-[[TrainSample]] `train` subset, then one
    * (scored_r, asg_r, upd_r, cents_r) block per Lloyd round over
    * `train` — the fixed-point integer mean makes the centroid
    * arithmetic order-independent, so the chain is
    * engine-reproducible.
    */
  /** CTE chain (allv -> cents_L -> scored/assigned): quantizer
    * training over `trainFrom` + full-corpus assignment. Shared by
    * the ranked-search tail ([[ivfRankedCtes]]) and the cell-bucketed
    * near-dup oracle, which appends its own pair-join tail.
    */
  private def ivfAssignCtes(allvCte: String,
      trainSample: Int, trainFrom: String): String = {
    val lloyd = (1 to LloydRounds).map { r =>
      s"""scored_$r AS (SELECT vec_id, v, cid,
         |    round(
         |      list_sum(list_transform(range(1, 65), i -> v[i] * cv[i])) /
         |      (sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) *
         |       sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))),
         |      6) AS ccos
         |  FROM train CROSS JOIN cents_${r - 1}),
         |asg_$r AS (SELECT vec_id, v, cell FROM (
         |    SELECT vec_id, v, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY ccos DESC, cid ASC) AS rn
         |    FROM scored_$r) WHERE rn = 1),
         |upd_$r AS (SELECT cell, dim, sum(q) AS s, count(*) AS n FROM (
         |    SELECT cell, dim, round(v[dim] * $FixPoint)::BIGINT AS q
         |    FROM asg_$r CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d)
         |  GROUP BY cell, dim),
         |cents_$r AS (SELECT cell AS cid,
         |    list(s::DOUBLE / (n * $FixPoint.0) ORDER BY dim) AS cv
         |  FROM upd_$r GROUP BY cell),""".stripMargin
    }.mkString("\n")
    s"""$allvCte,
       |spar AS (SELECT ${ivfStrideLadderSql("cnt")} AS cstride
       |  FROM (SELECT count(*) AS cnt FROM $trainFrom)),
       |cents_0 AS (SELECT vec_id AS cid, v AS cv
       |          FROM $trainFrom CROSS JOIN spar
       |          WHERE vec_id % cstride = 0),
       |train AS (SELECT vec_id, v FROM $trainFrom
       |          ORDER BY ${H.duckHash30("'tr_' || vec_id::VARCHAR")},
       |            vec_id LIMIT $trainSample),
       |$lloyd
       |scored AS (SELECT vec_id, v, cid,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> v[i] * cv[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))),
       |      6) AS ccos
       |  FROM allv CROSS JOIN cents_$LloydRounds),
       |assigned AS (SELECT vec_id, v, cell FROM (
       |    SELECT vec_id, v, cid AS cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY ccos DESC, cid ASC) AS rn
       |    FROM scored) WHERE rn = 1)""".stripMargin
  }

  private def ivfRankedCtes(allvCte: String, nQueries: Int,
      nprobe: Int, trainSample: Int = TrainSample,
      trainFrom: String = "allv"): String =
    s"""${ivfAssignCtes(allvCte, trainSample, trainFrom)},
       |qprobes AS (SELECT query_id, qv, cell FROM (
       |    SELECT vec_id AS query_id, v AS qv, cid AS cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY ccos DESC, cid ASC) AS rn
       |    FROM scored WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
       |cand AS (SELECT query_id, a.vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> qv[i] * a.v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))),
       |      6) AS cos_sim
       |  FROM qprobes q JOIN assigned a USING (cell)
       |  WHERE query_id <> a.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
       |  FROM cand)""".stripMargin

  /** Recall@k of the IVF search against the exact brute-force
    * ranking, one row per query — the companion measurement to
    * [[knnLshRecall]] (nprobe is the recall dial for IVF).
    */
  def knnIvfRecall(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    val exact = knnBruteForce(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = knnIvf(emb, nQueries, k, nprobe)
      .select(col("query_id").as("aq"), col("neighbor_id").as("hit_id"))
    exact.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("hit_id"),
        "left")
      .groupBy("query_id")
      .agg(round(count(col("hit_id")) / lit(k.toDouble), 4).as("recall"))
      .orderBy("query_id")
  }

  def knnIvfRecallOracle(nQueries: Int = 50, k: Int = 3,
      nprobe: Int = 2): String = {
    val allv =
      s"""allv AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings)""".stripMargin
    s"""WITH ${ivfRankedCtes(allv, nQueries, nprobe)},
       |probe_topk AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= $k),
       |exact_scored AS (SELECT a.query_id, vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))),
       |      6) AS cos_sim
       |  FROM (SELECT vec_id AS query_id, v AS qv FROM allv
       |        WHERE vec_id < $nQueries) a
       |  JOIN allv ON query_id <> vec_id),
       |exact_topk AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
       |    FROM exact_scored) WHERE rn <= $k)
       |SELECT e.query_id,
       |  round(count(p.neighbor_id) / $k.0, 4) AS recall
       |FROM exact_topk e LEFT JOIN probe_topk p
       |  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  /** Build the IVF index ONCE and persist it under `dir`: the coarse
    * quantizer at `dir/centroids` and every vector's cell assignment
    * at `dir/cells`, Hive-partitioned by cell id. The build is the
    * same assignment pipeline as [[knnIvf]]: quantizer training is
    * corpus-size-independent (fixed hash-sample, [[trainedCents]])
    * and assignment is the map-only [[graft.functions.NearestCell]]
    * pass — so build cost is ONE linear sweep over the vectors, not
    * the n^1.5 of full-corpus Lloyd + an n x C scored stream. The
    * point of persisting is that a 100 TB vector store is built once
    * and probed millions of times — the inline [[knnIvf]] recomputes
    * assignment per run, which is the measurement shape, not the
    * serving shape. Serving-scale callers size `trainSample` as
    * [[TrainPerCell]] x expected cells.
    */
  def ivfBuild(emb: DataFrame, dir: String,
      stride: Long = 0L,
      trainSample: Int = TrainSample): Unit = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val centArr = collectCents(trainedCents(all, stride, trainSample))
    val assigned = assignCells(all, centArr)
    centsDf(emb.sparkSession, centArr)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // cluster by cell before the partitioned write: fanOut leaves the
    // assigned stream round-robin over every core, which would spray
    // up to one file per (cell, partition) into the index; hashing on
    // cell collapses that to one file per cell — exactly the layout a
    // 100 TB index write wants anyway
    assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells")
  }

  /** Query a persisted IVF index: the `nprobe` cells nearest each
    * query come from the (tiny, broadcast) centroid table, and the
    * probe set broadcasts into the cells scan where DYNAMIC PARTITION
    * PRUNING drops every unprobed cell DIRECTORY before a byte of it
    * is read (IvfIndexSpec asserts the dynamicpruning expression in
    * the scan). Per-query candidate volume is O(n * nprobe / C)
    * exactly as in [[knnIvf]] — but against an index that was paid
    * for once. Identical ranking semantics to [[knnIvf]] (same
    * quantizer, rounding, tiebreaks), so the same oracle covers both.
    */
  def ivfQuery(queries: DataFrame, dir: String, k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    val cells = spark.read.parquet(s"$dir/cells")
    val cents = spark.read.parquet(s"$dir/centroids")
    val q = queries.select(col("query_id"),
        asDouble(col("embedding")).as("qv"))
      .withColumn("qnrm", norm(col("qv")))
    val qscored = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("qnrm"), col("cid"),
        round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6)
          .as("ccos"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    // `rn - 1 < nprobe`, not `rn <= nprobe`: Spark inserts a
    // WindowGroupLimit for the latter into the broadcast side but not
    // into the pruning subquery's copy of it, the two plans then
    // differ, and adaptive execution drops the dynamic pruning filter
    // it cannot serve from the broadcast: every cell would be read
    // (ScaleClaimsSpec counts the records a probe reads)
    val qprobes = qscored.withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") - 1 < nprobe)
      .select(col("query_id"), col("qv"), col("qnrm"),
        col("cid").as("cell"))
    val cand = cells.join(broadcast(qprobes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
    val wK = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    cand.withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        col("cos_sim"))
      .orderBy("query_id", "rn")
  }

  /** Append a new vector batch to a persisted IVF index WITHOUT
    * rebuilding: the batch is assigned against the index's existing
    * (persisted) quantizer — one map-only [[graft.functions.NearestCell]]
    * pass over the batch, zero shuffle — and its cell files land next
    * to the base corpus's. This is the daily-ingest shape at 100 TB:
    * append cost is O(batch), independent of index size, and probes
    * see old and new vectors identically (same cells, same DPP
    * pruning). The quantizer deliberately does NOT retrain — cell
    * geometry drifts only at the cadence of full rebuilds, exactly
    * how production IVF stores (FAISS ondisk, Milvus segments) run.
    */
  def ivfAppend(embNew: DataFrame, dir: String): Unit = {
    val spark = embNew.sparkSession
    val centArr = collectCents(spark.read.parquet(s"$dir/centroids"))
    val all = embNew.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val assigned = assignCells(all, centArr)
    // a PQ index stores codes in its cell files: encode the batch with
    // the PERSISTED codebook, or appended rows would carry NULL codes
    // and silently vanish from ivfPqQuery's ADC scan (posexplode
    // drops them). Same O(batch) map-only cost as cell assignment.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val withCodes =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/pqcents"))) {
        val rows = spark.read.parquet(s"$dir/pqcents")
          .orderBy("sub", "cid").collect()
        val bySub = rows.groupBy(_.getAs[Int]("sub")).toSeq.sortBy(_._1)
        val ids = bySub.map(_._2.map(_.getAs[Long]("cid")).toArray).toArray
        val vecs = bySub
          .map(_._2.map(_.getSeq[Double](2).toArray).toArray).toArray
        assigned.withColumn("codes",
          graft.functions.VectorFunctions.pq_encode(
            col("v"), ids, vecs, PqSubDim))
      } else assigned
    withCodes.write.mode("append").partitionBy("cell")
      .parquet(s"$dir/cells")
  }

  /** Oracle for build-on-base + append-batch + query: the quantizer
    * (seed + Lloyd sample) trains on the base subset only, assignment
    * covers the full corpus — exactly what [[ivfBuild]] on base
    * followed by [[ivfAppend]] of the rest produces.
    */
  def knnIvfAppendOracle(baseWhere: String, nQueries: Int = 50,
      k: Int = 3, nprobe: Int = 2,
      trainSample: Int = TrainSample): String = {
    val allv =
      s"""allv AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |base AS (SELECT vec_id, v FROM allv WHERE $baseWhere)""".stripMargin
    knnIvfOracleFrom(allv, nQueries, k, nprobe, trainSample,
      trainFrom = "base")
  }

  /** Cell-bucketed semantic near-dup — the IVF companion to
    * [[embeddingNearDupLsh]]: candidate pairs form only inside a
    * shared quantizer cell, with each vector probing its `nprobe`
    * nearest cells (map-only [[graft.functions.NearestCells]], no
    * n x C stream) so boundary pairs split by the Voronoi edge are
    * still candidates. Data-adaptive cells track the corpus's actual
    * density — where random hyperplanes cut uniformly, the trained
    * quantizer puts bucket boundaries in low-density gaps, which is
    * why IVF bucketing is the serving-grade semantic-dedup shape.
    * Candidates stay O(n * nprobe / C) per cell average; never
    * all-pairs. Pairs caught from either side's probe are
    * canonicalized (least, greatest) and deduplicated.
    */
  def embeddingNearDupIvf(emb: DataFrame, minSim: Double = 0.9,
      nprobe: Int = 2): DataFrame = {
    val base = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val variants = base.select((col("vec_id") + VariantIdOffset).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.5)),
        slice(col("v"), 2, 63)).as("v"))
    val all = base.unionByName(variants)
      .withColumn("nrm", norm(col("v")))
    val centArr = collectCents(trainedCents(all))
    val assigned = assignCells(all, centArr)
    val probed = all.select(col("vec_id"), col("v"), col("nrm"),
      explode(graft.functions.VectorFunctions.nearest_cells(
        col("v"), col("nrm"),
        centArr.map(_._1), centArr.map(_._2), centArr.map(_._3), nprobe))
        .as("cell"))
    // shuffle_hash: vector-payload cell join, same rationale (and the
    // same non-spillable-build caveat) as nearDupPairsV's bucket join
    // above; IVF cell sizes are bounded by the k-means balance, not
    // the corpus
    probed.as("a")
      .join(assigned.as("b").hint("shuffle_hash"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("id_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("id_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cos_sim"))
      .distinct()
      .filter(col("cos_sim") >= minSim)
      .orderBy("id_a", "id_b")
  }

  def embeddingNearDupIvfOracle(minSim: Double = 0.9,
      nprobe: Int = 2): String = {
    val allv =
      s"""allv AS (SELECT vec_id, v FROM (
         |  SELECT vec_id,
         |      list_transform(embedding, x -> x::DOUBLE) AS v
         |    FROM embeddings WHERE vec_id % 5 = 0
         |  UNION ALL
         |  SELECT vec_id + $VariantIdOffset,
         |      [v[1] + 0.5] || v[2:] FROM (
         |    SELECT vec_id,
         |        list_transform(embedding, x -> x::DOUBLE) AS v
         |      FROM embeddings WHERE vec_id % 5 = 0)))""".stripMargin
    s"""WITH ${ivfAssignCtes(allv, TrainSample, "allv")},
       |probes AS (SELECT vec_id, v, cell FROM (
       |    SELECT vec_id, v, cid AS cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY ccos DESC, cid ASC) AS rn
       |    FROM scored) WHERE rn <= $nprobe),
       |pairs AS (SELECT DISTINCT
       |    least(a.vec_id, b.vec_id) AS id_a,
       |    greatest(a.vec_id, b.vec_id) AS id_b,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))),
       |      6) AS cos_sim
       |  FROM probes a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= $minSim
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------------ PQ ANN

  /** Product-quantization geometry: 64 dims = [[PqSubspaces]] x
    * [[PqSubDim]]; every [[PqStride]]-th vector (fixture scale; the
    * [[pqStrideFor]] ladder past 4,096 vectors) seeds one codebook
    * entry per subspace (deterministic, engine-reproducible). A coded
    * vector is [[PqSubspaces]] small ids instead of 64 floats — with
    * a 256-entry codebook that is 8 bytes/vector, 32x smaller than
    * the raw floats, which is what lets a 100 TB vector corpus keep
    * its SEARCHABLE form in serving-tier memory.
    */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqStride = 25L

  /** Codes per subspace the adaptive PQ stride holds the codebook at
    * — the classic 8-bit PQ size.
    */
  val PqTargetCodes = 256L

  /** Adaptive PQ codebook stride: the fixed [[PqStride]] lets the
    * codebook grow as n/25 (8,000 codes per subspace at the
    * 200k-vector spot corpus — 1e11 flops to encode, 130 s, and no
    * longer an 8-bit code), so past 4,096 vectors the stride becomes
    * the smallest power of two keeping the codebook at or under
    * [[PqTargetCodes]] codes per subspace. Base fixtures (n <= 4096)
    * resolve to the historical 25, so fixture results and QualitySpec
    * floors are unchanged. [[pqStrideLadderSql]] is the bit-identical
    * DuckDB twin over the same corpus count.
    */
  def pqStrideFor(n: Long): Long =
    if (n <= 4096) PqStride
    else (5 to 20).find(k => n <= (PqTargetCodes << k)).map(1L << _)
      .getOrElse(1L << 20)

  /** SQL twin of [[pqStrideFor]] over a count expression. */
  def pqStrideLadderSql(cnt: String): String =
    s"(CASE WHEN $cnt <= 4096 THEN $PqStride " +
      (5 to 20).map(k => s"WHEN $cnt <= ${PqTargetCodes << k} THEN ${1L << k}")
        .mkString(" ") +
      s" ELSE ${1L << 20} END)"

  /** Fixed-point scale for ADC lookup-table entries: per-subspace
    * distances are quantized to `round(d * PqFix)` longs so the
    * per-candidate score is a SUM OF INTEGERS — exactly associative,
    * identical under Spark's partial aggregation and DuckDB's
    * single-node sum, and the (score, id) ranking needs no double
    * tiebreak at all. Same determinism device as [[FixPoint]].
    */
  val PqFix = 1000000000L

  /** Collected PQ codebook: (ids, subspace-major vectors). The stride
    * sets codebook SIZE — serving-scale callers pass corpus_size/256
    * so the book stays O(1) (a fixed table, like any trained
    * quantizer) while the fixture default keeps the oracle's exact
    * geometry.
    */
  private def pqCodebook(all: DataFrame, stride: Long = 0L,
      subDim: Int = PqSubDim)
      : (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    // stride <= 0 -> ADAPTIVE via the pqStrideFor ladder (plan-time
    // count; oracle twin is a scalar-subquery ladder over allv)
    val st = if (stride > 0) stride else pqStrideFor(all.count())
    val seeds = all.filter(col("vec_id") % st === 0)
      .select(col("vec_id"), col("v")).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val idRow = seeds.map(_._1)
    val ids = Array.fill(PqSubspaces)(idRow)
    val bySub = Array.tabulate(PqSubspaces) { s =>
      seeds.map(_._2.slice(s * subDim, (s + 1) * subDim))
    }
    (ids, bySub)
  }

  /** Lloyd refinement rounds for the trained PQ codebook. */
  val PqLloydRounds = 1

  /** Training-sample hash for the PQ codebook (salted independently
    * of the IVF quantizer's `tr_` sample).
    */
  private def pqTrainHash(id: Column): Column =
    H.hash30(concat(lit("ptr_"), id.cast("string")))

  /** TRAINED PQ codebook: the stride seeds refined with
    * [[PqLloydRounds]] Lloyd rounds PER SUBSPACE over the
    * hash-smallest `trainSample` vectors — the same corpus-size-
    * independent training and fixed-point integer-mean devices as the
    * IVF coarse quantizer ([[trainedCents]]), applied to each 8-dim
    * subspace independently with L2 assignment (squared distance,
    * ties to smallest id — [[graft.functions.SqDist]] arithmetic). A
    * seed with no training members in a subspace drops from THAT
    * subspace only, which is why the codebook ids are per subspace.
    */
  private[ops] def pqTrainedCodebook(all: DataFrame,
      stride: Long = 0L, trainSample: Int = TrainSample,
      subDim: Int = PqSubDim)
      : (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val st = if (stride > 0) stride else pqStrideFor(all.count())
    val subvecs = transform(sequence(lit(0), lit(PqSubspaces - 1)),
      s => slice(col("v"), s * subDim + 1, lit(subDim)))
    var cents = all.filter(col("vec_id") % st === 0)
      .select(col("vec_id").as("cid"),
        posexplode(subvecs).as(Seq("sub", "cv")))
    val train = all
      .withColumn("trh", pqTrainHash(col("vec_id")))
      .orderBy(col("trh"), col("vec_id"))
      .limit(trainSample)
      .select(col("vec_id"), posexplode(subvecs).as(Seq("sub", "sv")))
    for (_ <- 1 to PqLloydRounds) {
      val scored = train.join(broadcast(cents), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("sv"), col("cid"),
          graft.functions.VectorFunctions.sq_dist(col("sv"), col("cv"))
            .as("d2"))
      val w = Window.partitionBy("vec_id", "sub")
        .orderBy(col("d2").asc, col("cid").asc)
      val asg = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("sub"), col("cid").as("cell"), col("sv"))
      val perDim = asg
        .select(col("sub"), col("cell"),
          posexplode(col("sv")).as(Seq("dim", "x")))
        .select(col("sub"), col("cell"), col("dim"),
          round(col("x") * FixPoint).cast("long").as("q"))
        .groupBy("sub", "cell", "dim")
        .agg(sum("q").as("s"), count(lit(1)).as("n"))
      cents = perDim
        .groupBy("sub", "cell")
        .agg(collect_list(struct(col("dim"),
          (col("s").cast("double") / (col("n") * lit(FixPoint.toDouble)))
            .as("x"))).as("parts"))
        .select(col("cell").as("cid"), col("sub"),
          transform(array_sort(col("parts")), p => p.getField("x")).as("cv"))
    }
    val rows = cents.orderBy("sub", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val ids = Array.tabulate(PqSubspaces)(s =>
      rows.filter(_._2 == s).map(_._1))
    val bySub = Array.tabulate(PqSubspaces)(s =>
      rows.filter(_._2 == s).map(_._3))
    (ids, bySub)
  }

  /** PQ ANN via asymmetric distance computation (ADC): the corpus is
    * one map-only [[graft.functions.PqEncode]] pass (vector -> 8
    * codes, zero shuffle); each query precomputes a lookup table of
    * fixed-point distances to every codebook entry per subspace
    * (tiny: queries x S x C rows, broadcast); a candidate's score is
    * then the INTEGER sum of 8 table lookups — no float arithmetic
    * touches the corpus side at query time, and the ranking
    * (score asc, id asc) is tie-free by construction. This is the
    * brute-force-ADC baseline: it scans all n codes per query but
    * pays 8 integer adds per candidate instead of 64 float
    * multiplies, on 32x less data; composing it with the IVF cell
    * index (scan only probed cells' codes) is the standard IVF-PQ
    * serving stack.
    */
  def knnPq(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      subDim: Int = PqSubDim): DataFrame = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val (ids, bySub) = pqCodebook(all, subDim = subDim)
    val codes = all.select(col("vec_id"),
      posexplode(graft.functions.VectorFunctions.pq_encode(
        col("v"), ids, bySub, subDim)).as(Seq("sub", "code")))
    // (query, subspace, codebook-entry) fixed-point distance table
    val spark = emb.sparkSession
    import spark.implicits._
    val centsSub = (0 until PqSubspaces).flatMap { s =>
      ids(s).indices.map(c => (ids(s)(c), s, bySub(s)(c).toSeq))
    }.toDF("cid", "sub", "cv")
    val lut = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(centsSub)
      .select(col("query_id"), col("sub"), col("cid"),
        round(graft.functions.VectorFunctions.sq_dist(
          slice(col("qv"), col("sub") * subDim + 1, lit(subDim)), col("cv"))
          * PqFix).cast("long").as("dfix"))
    val scored = codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("dfix").as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").asc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id").as("neighbor_id"),
        round(col("score").cast("double") / PqFix, 6).as("approx_l2"))
      .orderBy("query_id", "rn")
  }

  def knnPqOracle(nQueries: Int = 50, k: Int = 3): String =
    s"""WITH ${pqRankedCtes(nQueries)}
       |SELECT query_id, rn, neighbor_id,
       |  round(score / $PqFix.0, 6) AS approx_l2
       |FROM ranked WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin

  private def pqL2(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, ${PqSubDim + 1}),
       |      i -> ($a[sub * $PqSubDim + i] - $b[i]) *
       |           ($a[sub * $PqSubDim + i] - $b[i])))""".stripMargin

  /** Stride-seeded codebook CTE: defines `cents(cid, sub, cv)`. */
  private def pqStrideCentsCte: String =
    s"""ppar AS (SELECT ${pqStrideLadderSql("cnt")} AS pstride
       |  FROM (SELECT count(*) AS cnt FROM allv)),
       |cents AS (SELECT vec_id AS cid, sub,
       |    v[sub * $PqSubDim + 1 : sub * $PqSubDim + $PqSubDim] AS cv
       |  FROM allv, subs CROSS JOIN ppar WHERE vec_id % pstride = 0)""".stripMargin

  /** Trained-codebook CTE chain, mirroring [[pqTrainedCodebook]]:
    * stride seeds, hash-smallest training sample, one per-subspace
    * (pscored, pasg, pupd) Lloyd block per round with fixed-point
    * integer means; ends defining `cents(cid, sub, cv)`.
    */
  private def pqTrainedCentsCte(trainSample: Int): String = {
    def svL2 = s"""list_sum(list_transform(range(1, ${PqSubDim + 1}),
       |      i -> (t.sv[i] - c.cv[i]) * (t.sv[i] - c.cv[i])))""".stripMargin
    val lloyd = (1 to PqLloydRounds).map { r =>
      val prev = if (r == 1) "pcents_0" else s"pcents_${r - 1}"
      val name = if (r == PqLloydRounds) "cents" else s"pcents_$r"
      s"""pscored_$r AS (SELECT t.vec_id, t.sub, t.sv, c.cid,
         |    $svL2 AS d2
         |  FROM ptrain t JOIN $prev c ON t.sub = c.sub),
         |pasg_$r AS (SELECT sub, cell, sv FROM (
         |    SELECT sub, sv, cid AS cell,
         |      row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY d2 ASC, cid ASC) AS rn
         |    FROM pscored_$r) WHERE rn = 1),
         |pupd_$r AS (SELECT sub, cell, dim, sum(q) AS s, count(*) AS n FROM (
         |    SELECT sub, cell, dim, round(sv[dim] * $FixPoint)::BIGINT AS q
         |    FROM pasg_$r CROSS JOIN
         |      (SELECT unnest(range(1, ${PqSubDim + 1})) AS dim) d)
         |  GROUP BY 1, 2, 3),
         |$name AS (SELECT cell AS cid, sub,
         |    list(s::DOUBLE / (n * $FixPoint.0) ORDER BY dim) AS cv
         |  FROM pupd_$r GROUP BY cell, sub)""".stripMargin
    }.mkString(",\n")
    s"""ppar AS (SELECT ${pqStrideLadderSql("cnt")} AS pstride
       |  FROM (SELECT count(*) AS cnt FROM allv)),
       |pcents_0 AS (SELECT vec_id AS cid, sub,
       |    v[sub * $PqSubDim + 1 : sub * $PqSubDim + $PqSubDim] AS cv
       |  FROM allv, subs CROSS JOIN ppar WHERE vec_id % pstride = 0),
       |ptrain AS (SELECT vec_id, sub,
       |    v[sub * $PqSubDim + 1 : sub * $PqSubDim + $PqSubDim] AS sv
       |  FROM (SELECT vec_id, v FROM allv
       |        ORDER BY ${H.duckHash30("'ptr_' || vec_id::VARCHAR")},
       |          vec_id LIMIT $trainSample), subs),
       |$lloyd""".stripMargin
  }

  /** CTE chain (allv -> cents/codes/lut -> scored -> ranked) shared by
    * the PQ oracles; `centsCte` must define `cents(cid, sub, cv)`.
    */
  private def pqRankedCtes(nQueries: Int,
      centsCte: String = pqStrideCentsCte): String = {
    def l2(a: String, b: String): String = pqL2(a, b)
    s"""allv AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |subs AS (SELECT unnest(range(0, $PqSubspaces)) AS sub),
       |$centsCte,
       |codes AS (SELECT vec_id, sub, cid AS code FROM (
       |    SELECT a.vec_id, c.sub, c.cid,
       |      row_number() OVER (PARTITION BY a.vec_id, c.sub
       |        ORDER BY ${l2("a.v", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM allv a CROSS JOIN cents c) WHERE rn = 1),
       |lut AS (SELECT q.vec_id AS query_id, c.sub, c.cid,
       |    round(${l2("q.v", "c.cv")} * $PqFix)::BIGINT AS dfix
       |  FROM (SELECT vec_id, v FROM allv WHERE vec_id < $nQueries) q
       |  CROSS JOIN cents c),
       |scored AS (SELECT l.query_id, co.vec_id AS neighbor_id,
       |    sum(l.dfix)::BIGINT AS score
       |  FROM codes co JOIN lut l ON co.sub = l.sub AND co.code = l.cid
       |  WHERE co.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |ranked AS (SELECT query_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score ASC, neighbor_id ASC) AS rn
       |  FROM scored)""".stripMargin
  }

  /** Two-stage PQ search — the serving shape: ADC over the compressed
    * codes produces a `shortlist` of candidates per query (the only
    * full-corpus work, all integer lookups on 8-byte codes), then the
    * shortlist alone is re-scored with exact L2 over the raw vectors
    * (O(queries x shortlist) float work — negligible). Rerank buys
    * back most of the quantizer's ranking loss: the compressed scan
    * only has to get the true neighbors into the top-`shortlist`, not
    * into the top-k. Ranking key is the ROUNDED exact distance so
    * ordering is engine-reproducible.
    */
  def knnPqRerank(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      shortlist: Int = 16): DataFrame = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    pqRerankWith(all, pqCodebook(all), nQueries, k, shortlist)
  }

  /** [[knnPqRerank]] with the TRAINED codebook
    * ([[pqTrainedCodebook]]) — what per-subspace Lloyd refinement
    * buys over raw stride seeding, measured by
    * [[knnPqTrainedRecall]] against the same exact ranking.
    */
  def knnPqTrained(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      shortlist: Int = 16, subDim: Int = PqSubDim): DataFrame = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    pqRerankWith(all, pqTrainedCodebook(all, subDim = subDim),
      nQueries, k, shortlist, subDim)
  }

  /** Shared two-stage (ADC shortlist -> exact rerank) pipeline over a
    * collected codebook.
    */
  private def pqRerankWith(all: DataFrame,
      codebook: (Array[Array[Long]], Array[Array[Array[Double]]]),
      nQueries: Int, k: Int, shortlist: Int,
      subDim: Int = PqSubDim): DataFrame = {
    val (ids, bySub) = codebook
    // pq_encode is the O(codes·d) kernel per vector — same
    // single-input-partition hazard as assignCells, same fanOut fix
    val codes = fanOut(all).select(col("vec_id"),
      posexplode(graft.functions.VectorFunctions.pq_encode(
        col("v"), ids, bySub, subDim)).as(Seq("sub", "code")))
    val spark = all.sparkSession
    import spark.implicits._
    val centsSub = (0 until PqSubspaces).flatMap { s =>
      ids(s).indices.map(c => (ids(s)(c), s, bySub(s)(c).toSeq))
    }.toDF("cid", "sub", "cv")
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val lut = queries.crossJoin(centsSub)
      .select(col("query_id"), col("sub"), col("cid"),
        round(graft.functions.VectorFunctions.sq_dist(
          slice(col("qv"), col("sub") * subDim + 1, lit(subDim)),
          col("cv")) * PqFix).cast("long").as("dfix"))
    val scored = codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("dfix").as("score"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("score").asc, col("vec_id").asc)
    val short = scored.withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val rescored = short
      .join(all.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VectorFunctions.sq_dist(col("qv"), col("v")), 6)
          .as("exact_l2"))
    val wK = Window.partitionBy("query_id")
      .orderBy(col("exact_l2").asc, col("neighbor_id").asc)
    rescored.withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("exact_l2"))
      .orderBy("query_id", "rn")
  }

  def knnPqTrainedOracle(nQueries: Int = 50, k: Int = 3,
      shortlist: Int = 16,
      trainSample: Int = TrainSample): String =
    knnPqRerankOracle(nQueries, k, shortlist,
      pqTrainedCentsCte(trainSample))

  def knnPqTrainedRecallOracle(nQueries: Int = 50, k: Int = 3,
      shortlist: Int = 16,
      trainSample: Int = TrainSample): String =
    pqRecallOracleOver(
      knnPqTrainedOracle(nQueries, k, shortlist, trainSample), nQueries, k)

  def knnPqRerankOracle(nQueries: Int = 50, k: Int = 3,
      shortlist: Int = 16,
      centsCte: String = pqStrideCentsCte): String =
    s"""WITH ${pqRankedCtes(nQueries, centsCte)},
       |short AS (SELECT query_id, neighbor_id FROM ranked
       |  WHERE rn <= $shortlist),
       |rescored AS (SELECT s.query_id, s.neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> (q.v[i] - a.v[i]) * (q.v[i] - a.v[i]))), 6) AS exact_l2
       |  FROM short s
       |  JOIN allv a ON a.vec_id = s.neighbor_id
       |  JOIN allv q ON q.vec_id = s.query_id),
       |rranked AS (SELECT query_id, neighbor_id, exact_l2,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY exact_l2 ASC, neighbor_id ASC) AS rn
       |  FROM rescored)
       |SELECT query_id, rn, neighbor_id, exact_l2
       |FROM rranked WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin

  /** Recall@k of PQ-ADC against exact L2 brute force — the
    * compression-loss measurement that sizes the codebook.
    */
  def knnPqRecall(emb: DataFrame, nQueries: Int = 50, k: Int = 3): DataFrame =
    pqRecallAgainstExact(emb, knnPq(emb, nQueries, k), nQueries, k)

  def knnPqRecallOracle(nQueries: Int = 50, k: Int = 3): String =
    pqRecallOracleOver(knnPqOracle(nQueries, k), nQueries, k)

  /** IVF-PQ: the composed serving stack (FAISS's IVFPQ shape). The
    * coarse quantizer prunes WHICH vectors a query scores (only the
    * `nprobe` nearest cells' members are candidates); PQ shrinks WHAT
    * a score costs (candidates are scored from 8-byte codes by
    * integer table lookups); exact rerank of the ADC `shortlist`
    * restores ranking quality. Per query: O(C) cell probing + O(n *
    * nprobe / C) integer candidate scoring over compressed codes +
    * O(shortlist) exact float work — no stage touches the raw corpus
    * except the final bounded rerank. Both quantizers are the
    * deterministic fixture forms ([[trainedCents]], stride codebook),
    * so the whole stack is oracle-checkable.
    */
  def knnIvfPq(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      nprobe: Int = 2, shortlist: Int = 32): DataFrame = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // coarse quantizer: cell per vector (map-only)
    val centArr = collectCents(trainedCents(all))
    val assigned = assignCells(all, centArr)
    // fine quantizer: 8 codes per vector (map-only), cell carried along
    val (pqIds, pqBySub) = pqCodebook(all)
    val assignedCodes = assigned.select(col("vec_id"), col("cell"),
      posexplode(graft.functions.VectorFunctions.pq_encode(
        col("v"), pqIds, pqBySub, PqSubDim)).as(Seq("sub", "code")))
    // query side: nprobe nearest cells + the per-query ADC table
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = centsDf(spark, centArr)
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val qscored = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cid"),
        round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6)
          .as("ccos"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val qprobes = qscored.withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cid").as("cell"))
    val centsSub = (0 until PqSubspaces).flatMap { s =>
      pqIds(s).indices.map(c => (pqIds(s)(c), s, pqBySub(s)(c).toSeq))
    }.toDF("cid", "sub", "cv")
    val lut = queries.crossJoin(centsSub)
      .select(col("query_id"), col("sub"), col("cid"),
        round(graft.functions.VectorFunctions.sq_dist(
          slice(col("qv"), col("sub") * PqSubDim + 1, lit(PqSubDim)),
          col("cv")) * PqFix).cast("long").as("dfix"))
    // ADC over in-cell candidates only
    val lutR = lut.select(col("query_id").as("lq"), col("sub").as("lsub"),
      col("cid").as("lcid"), col("dfix"))
    val adc = assignedCodes.join(broadcast(qprobes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lutR), col("query_id") === col("lq") &&
        col("sub") === col("lsub") && col("code") === col("lcid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum("dfix").as("score"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("score").asc, col("vec_id").asc)
    val short = adc.withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // exact rerank of the bounded shortlist
    val rescored = short
      .join(all.select(col("vec_id").as("neighbor_id"), col("v")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VectorFunctions.sq_dist(col("qv"), col("v")), 6)
          .as("exact_l2"))
    val wK = Window.partitionBy("query_id")
      .orderBy(col("exact_l2").asc, col("neighbor_id").asc)
    rescored.withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("exact_l2"))
      .orderBy("query_id", "rn")
  }

  def knnIvfPqOracle(nQueries: Int = 50, k: Int = 3,
      nprobe: Int = 2, shortlist: Int = 32): String = {
    def l2sub(a: String, b: String): String =
      s"""list_sum(list_transform(range(1, ${PqSubDim + 1}),
         |      i -> ($a[sub * $PqSubDim + i] - $b[i]) *
         |           ($a[sub * $PqSubDim + i] - $b[i])))""".stripMargin
    val allv =
      s"""allv AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings)""".stripMargin
    s"""WITH ${ivfAssignCtes(allv, TrainSample, "allv")},
       |qprobes AS (SELECT query_id, cell FROM (
       |    SELECT vec_id AS query_id, cid AS cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY ccos DESC, cid ASC) AS rn
       |    FROM scored WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
       |subs AS (SELECT unnest(range(0, $PqSubspaces)) AS sub),
       |ppar AS (SELECT ${pqStrideLadderSql("cnt")} AS pstride
       |  FROM (SELECT count(*) AS cnt FROM allv)),
       |pqcents AS (SELECT vec_id AS cid, sub,
       |    v[sub * $PqSubDim + 1 : sub * $PqSubDim + $PqSubDim] AS cv
       |  FROM allv, subs CROSS JOIN ppar WHERE vec_id % pstride = 0),
       |codes AS (SELECT vec_id, sub, cid AS code FROM (
       |    SELECT a.vec_id, c.sub, c.cid,
       |      row_number() OVER (PARTITION BY a.vec_id, c.sub
       |        ORDER BY ${l2sub("a.v", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM allv a CROSS JOIN pqcents c) WHERE rn = 1),
       |lut AS (SELECT q.vec_id AS query_id, c.sub, c.cid,
       |    round(${l2sub("q.v", "c.cv")} * $PqFix)::BIGINT AS dfix
       |  FROM (SELECT vec_id, v FROM allv WHERE vec_id < $nQueries) q
       |  CROSS JOIN pqcents c),
       |cand AS (SELECT p.query_id, a.vec_id
       |  FROM qprobes p JOIN assigned a USING (cell)
       |  WHERE p.query_id <> a.vec_id),
       |adc AS (SELECT c.query_id, c.vec_id AS neighbor_id,
       |    sum(l.dfix)::BIGINT AS score
       |  FROM cand c
       |  JOIN codes co ON co.vec_id = c.vec_id
       |  JOIN lut l ON l.query_id = c.query_id
       |    AND l.sub = co.sub AND l.cid = co.code
       |  GROUP BY 1, 2),
       |short AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score ASC, neighbor_id ASC) AS rn
       |    FROM adc) WHERE rn <= $shortlist),
       |rescored AS (SELECT s.query_id, s.neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> (q.v[i] - a.v[i]) * (q.v[i] - a.v[i]))), 6) AS exact_l2
       |  FROM short s
       |  JOIN allv a ON a.vec_id = s.neighbor_id
       |  JOIN allv q ON q.vec_id = s.query_id),
       |rranked AS (SELECT query_id, neighbor_id, exact_l2,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY exact_l2 ASC, neighbor_id ASC) AS rn
       |  FROM rescored)
       |SELECT query_id, rn, neighbor_id, exact_l2
       |FROM rranked WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin
  }

  /** [[ivfBuild]] plus the fine quantizer: every vector's 8 PQ codes
    * land IN the cell files (one extra array column — 8 longs next to
    * the 64-double vector) and the codebook persists at
    * `dir/pqcents`. The payoff at query time is COLUMN PRUNING on top
    * of partition pruning: the ADC scan of [[ivfPqQuery]] reads only
    * (vec_id, codes) from the probed cell directories — the raw
    * vectors stay on disk until the bounded rerank touches the
    * shortlist rows.
    */
  def ivfBuildPq(emb: DataFrame, dir: String,
      stride: Long = 0L,
      trainSample: Int = TrainSample,
      pqStride: Long = 0L): Unit = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val centArr = collectCents(trainedCents(all, stride, trainSample))
    val (pqIds, pqBySub) = pqCodebook(all, pqStride)
    val assigned = assignCells(all, centArr)
      .withColumn("codes", graft.functions.VectorFunctions.pq_encode(
        col("v"), pqIds, pqBySub, PqSubDim))
    centsDf(emb.sparkSession, centArr)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val spark = emb.sparkSession
    import spark.implicits._
    (0 until PqSubspaces).flatMap { s =>
      pqIds(s).indices.map(c => (pqIds(s)(c), s, pqBySub(s)(c).toSeq))
    }.toDF("cid", "sub", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pqcents")
    // same cell-clustered write rationale as [[ivfBuild]]
    assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells")
  }

  /** IVF-PQ over a persisted index: probe cells from the broadcast
    * coarse centroids (DPP drops unprobed cell DIRECTORIES), ADC-score
    * candidates from the 8-byte codes column only (the 64-double
    * vector column is never read in this stage — column pruning,
    * asserted in IvfPqIndexSpec), exact-rerank the shortlist by
    * fetching vectors from the probed cells. Ranking-identical to the
    * inline [[knnIvfPq]], so the same oracle covers both.
    */
  def ivfPqQuery(queries: DataFrame, dir: String, k: Int = 3,
      nprobe: Int = 2, shortlist: Int = 32): DataFrame = {
    val spark = queries.sparkSession
    val cells = spark.read.parquet(s"$dir/cells")
    val cents = spark.read.parquet(s"$dir/centroids")
    val pqcents = spark.read.parquet(s"$dir/pqcents")
    val q = queries.select(col("query_id"),
        asDouble(col("embedding")).as("qv"))
      .withColumn("qnrm", norm(col("qv")))
    val qscored = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cid"),
        round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6)
          .as("ccos"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cid").asc)
    val qprobes = qscored.withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cid").as("cell"))
    val lut = q.crossJoin(broadcast(pqcents))
      .select(col("query_id").as("lq"), col("sub").as("lsub"),
        col("cid").as("lcid"),
        round(graft.functions.VectorFunctions.sq_dist(
          slice(col("qv"), col("sub") * PqSubDim + 1, lit(PqSubDim)),
          col("cv")) * PqFix).cast("long").as("dfix"))
    val adc = cells.select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(qprobes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), col("query_id") === col("lq") &&
        col("sub") === col("lsub") && col("code") === col("lcid"))
      .groupBy(col("query_id"), col("cell"), col("vec_id"))
      .agg(sum("dfix").as("score"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("score").asc, col("vec_id").asc)
    val short = adc.withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= shortlist)
      .select(col("query_id"), col("cell"),
        col("vec_id").as("neighbor_id"))
    // rerank: vectors fetched from the probed cells only (cell join
    // key keeps the scan partition-pruned)
    val rescored = short
      .join(cells.select(col("cell"), col("vec_id").as("neighbor_id"),
        col("v")), Seq("cell", "neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VectorFunctions.sq_dist(col("qv"), col("v")), 6)
          .as("exact_l2"))
    val wK = Window.partitionBy("query_id")
      .orderBy(col("exact_l2").asc, col("neighbor_id").asc)
    rescored.withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("exact_l2"))
      .orderBy("query_id", "rn")
  }

  /** Recall@k of the full IVF-PQ stack vs exact L2 — the end-to-end
    * quality number for the composed serving path (cell pruning loss
    * x compression loss x what rerank restores).
    */
  def knnIvfPqRecall(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      nprobe: Int = 2, shortlist: Int = 32): DataFrame =
    pqRecallAgainstExact(emb,
      knnIvfPq(emb, nQueries, k, nprobe, shortlist), nQueries, k)

  def knnIvfPqRecallOracle(nQueries: Int = 50, k: Int = 3,
      nprobe: Int = 2, shortlist: Int = 32): String =
    pqRecallOracleOver(knnIvfPqOracle(nQueries, k, nprobe, shortlist),
      nQueries, k)

  /** Recall@k of the trained-codebook two-stage search vs exact L2 —
    * the measured value of per-subspace Lloyd refinement.
    */
  def knnPqTrainedRecall(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      shortlist: Int = 16): DataFrame =
    pqRecallAgainstExact(emb,
      knnPqTrained(emb, nQueries, k, shortlist), nQueries, k)

  /** recall@k of any approx (query_id, neighbor_id) result against
    * the exact L2 top-k — shared tail of the PQ recall measurements.
    */
  private def pqRecallAgainstExact(emb: DataFrame, approxTopk: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scoredExact = broadcast(queries)
      .join(all, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.VectorFunctions.sq_dist(col("qv"), col("v"))
          .as("d2"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2").asc, col("neighbor_id").asc)
    val exact = scoredExact.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = approxTopk
      .select(col("query_id").as("aq"), col("neighbor_id").as("hit_id"))
    exact.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("hit_id"),
        "left")
      .groupBy("query_id")
      .agg(round(count(col("hit_id")) / lit(k.toDouble), 4).as("recall"))
      .orderBy("query_id")
  }

  /** Recall@k of the two-stage (ADC shortlist + exact rerank) search
    * vs exact L2 — the number that justifies shipping the compressed
    * codes: compare with [[knnPqRecall]] to see what rerank buys back.
    */
  def knnPqRerankRecall(emb: DataFrame, nQueries: Int = 50, k: Int = 3,
      shortlist: Int = 16): DataFrame =
    pqRecallAgainstExact(emb,
      knnPqRerank(emb, nQueries, k, shortlist), nQueries, k)

  def knnPqRerankRecallOracle(nQueries: Int = 50, k: Int = 3,
      shortlist: Int = 16): String =
    pqRecallOracleOver(knnPqRerankOracle(nQueries, k, shortlist),
      nQueries, k)

  /** recall@k of any nested PQ-search SQL against the exact L2
    * ranking — the shared tail of the PQ recall oracles.
    */
  private def pqRecallOracleOver(innerSql: String,
      nQueries: Int, k: Int): String =
    s"""WITH exact_scored AS (SELECT q.vec_id AS query_id,
       |    a.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65),
       |      i -> (q.v[i] - a.v[i]) * (q.v[i] - a.v[i]))) AS d2
       |  FROM (SELECT vec_id,
       |      list_transform(embedding, x -> x::DOUBLE) AS v
       |    FROM embeddings WHERE vec_id < $nQueries) q
       |  JOIN (SELECT vec_id,
       |      list_transform(embedding, x -> x::DOUBLE) AS v
       |    FROM embeddings) a ON q.vec_id <> a.vec_id),
       |exact_topk AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY d2 ASC, neighbor_id ASC) AS rn
       |    FROM exact_scored) WHERE rn <= $k),
       |pq AS (
       |$innerSql)
       |SELECT e.query_id,
       |  round(count(p.neighbor_id) / $k.0, 4) AS recall
       |FROM exact_topk e LEFT JOIN pq p
       |  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** Conditional-bit bucket expression for the adaptive kNN oracles:
    * term p contributes only when `p < planes`, so the STATIC SQL
    * text evaluates the same data-dependent bucket the Spark side
    * builds from its plan-time count (the embeddingNearDupLshOracle
    * device).
    */
  private def knnCondBucketSql: String = knnCondBucketSqlSalted("")

  private def knnCondBucketSqlSalted(salt: String): String = {
    def dotPlane(p: Int): String =
      s"""list_sum(list_transform(range(1, 65), d -> v[d] *
         |      ((${H.duckHash30(s"'${salt}p_${p}_' || d::VARCHAR")} * 2 - 1073741824)::DOUBLE
         |        / 1073741824)))""".stripMargin
    (0 until 24).map { p =>
      s"CASE WHEN $p < planes AND ${dotPlane(p)} > 0 " +
        s"THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
  }

  /** Shared CTE prefix for the multi-table oracles: adaptive planes +
    * one salted conditional-bit bucket column per table, then the
    * per-table self-joins unioned and deduped exactly like
    * [[knnLshTables]].
    */
  private def tablesDedupCtes(nQueries: Int, tables: Int): String = {
    val bucketCols = (0 until tables).map(t =>
      s"(${knnCondBucketSqlSalted(s"t${t}_")})::BIGINT AS bucket_$t")
      .mkString(",\n|    ")
    val perTable = (0 until tables).map { t =>
      s"""SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |      round(
         |        list_sum(list_transform(range(1, 65), i -> q.v[i] * a.v[i])) /
         |        (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i]))) *
         |         sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))),
         |        6) AS cos_sim
         |    FROM bucketed q JOIN bucketed a
         |      ON q.bucket_$t = a.bucket_$t AND q.vec_id <> a.vec_id
         |    WHERE q.vec_id < $nQueries""".stripMargin
    }.mkString("\n|    UNION ALL\n|    ")
    s"""allv AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |par AS (SELECT ${knnPlanesLadderSql("cnt")} AS planes
       |  FROM (SELECT count(*) AS cnt FROM allv)),
       |bucketed AS (SELECT vec_id, v,
       |    $bucketCols
       |  FROM allv CROSS JOIN par),
       |cand AS ($perTable),
       |dedup AS (SELECT query_id, neighbor_id, max(cos_sim) AS cos_sim
       |  FROM cand GROUP BY query_id, neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
       |  FROM dedup)""".stripMargin
  }

  def knnLshTablesOracle(nQueries: Int = 50, k: Int = 3,
      tables: Int = 4): String =
    s"""WITH ${tablesDedupCtes(nQueries, tables)}
       |SELECT query_id, rn, neighbor_id, cos_sim FROM ranked WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin

  def knnLshTablesRecallOracle(nQueries: Int = 50, k: Int = 3,
      tables: Int = 4): String =
    s"""WITH ${tablesDedupCtes(nQueries, tables)},
       |tbl_topk AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= $k),
       |exact_scored AS (SELECT a.query_id, vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))),
       |      6) AS cos_sim
       |  FROM (SELECT vec_id AS query_id, v AS qv FROM allv
       |        WHERE vec_id < $nQueries) a
       |  JOIN allv ON query_id <> vec_id),
       |exact_topk AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
       |    FROM exact_scored) WHERE rn <= $k)
       |SELECT e.query_id,
       |  round(count(p.neighbor_id) / $k.0, 4) AS recall
       |FROM exact_topk e LEFT JOIN tbl_topk p
       |  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  def knnLshOracle(nQueries: Int = 50, k: Int = 3): String =
    s"""WITH allv AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |par AS (SELECT ${knnPlanesLadderSql("cnt")} AS planes
       |  FROM (SELECT count(*) AS cnt FROM allv)),
       |bucketed AS (SELECT vec_id, v, ($knnCondBucketSql)::BIGINT AS bucket
       |  FROM allv CROSS JOIN par),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
       |      FROM bucketed WHERE vec_id < $nQueries),
       |scored AS (SELECT query_id, vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))),
       |      6) AS cos_sim
       |  FROM q JOIN bucketed ON qbucket = bucket AND query_id <> vec_id),
       |ranked AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
       |  FROM scored)
       |SELECT query_id, rn, neighbor_id, cos_sim FROM ranked WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin

  /** Shared CTE prefix for the multi-probe oracles: adaptive planes
    * (the [[knnPlanesFor]] ladder as a scalar subquery), bucketed
    * corpus, probe-expanded queries and the ranked candidate stream.
    */
  private def probeRankedCtes(nQueries: Int): String =
    s"""allv AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |par AS (SELECT ${knnPlanesLadderSql("cnt")} AS planes
       |  FROM (SELECT count(*) AS cnt FROM allv)),
       |bucketed AS (SELECT vec_id, v, planes,
       |    ($knnCondBucketSql)::BIGINT AS bucket
       |  FROM allv CROSS JOIN par),
       |q AS (SELECT vec_id AS query_id, v AS qv,
       |    unnest([bucket] || list_transform(range(0, planes),
       |      p -> xor(bucket, (1::BIGINT << p)))) AS pbucket
       |  FROM bucketed WHERE vec_id < $nQueries),
       |scored AS (SELECT query_id, vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))),
       |      6) AS cos_sim
       |  FROM q JOIN bucketed ON pbucket = bucket AND query_id <> vec_id),
       |ranked AS (SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
       |  FROM scored)""".stripMargin

  def knnLshProbeOracle(nQueries: Int = 50, k: Int = 3): String =
    s"""WITH ${probeRankedCtes(nQueries)}
       |SELECT query_id, rn, neighbor_id, cos_sim FROM ranked WHERE rn <= $k
       |ORDER BY query_id, rn""".stripMargin

  def knnLshRecallOracle(nQueries: Int = 50, k: Int = 3): String =
    s"""WITH ${probeRankedCtes(nQueries)},
       |probe_topk AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= $k),
       |exact_scored AS (SELECT a.query_id, vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))),
       |      6) AS cos_sim
       |  FROM (SELECT vec_id AS query_id, v AS qv FROM allv
       |        WHERE vec_id < $nQueries) a
       |  JOIN allv ON query_id <> vec_id),
       |exact_topk AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
       |    FROM exact_scored) WHERE rn <= $k)
       |SELECT e.query_id,
       |  round(count(p.neighbor_id) / $k.0, 4) AS recall
       |FROM exact_topk e LEFT JOIN probe_topk p
       |  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** SQ8 scalar quantization recall: each dimension linearly mapped
    * to an 8-bit code against its corpus min/max (the third standard
    * ANN compression next to PQ and sign-LSH — 4x smaller than
    * float32, trivially SIMD-able), candidates ranked by cosine over
    * the DEQUANTIZED vectors (x_hat = mn + code * rng / 255 — what an
    * SQ8 index actually scans; raw shifted-code dot products are not
    * rank-equivalent to cosine), reported as recall@k against the
    * exact float ranking.
    *
    * Determinism devices: the per-dim min/max collect is O(d) driver
    * rows (the collectCents precedent); reconstruction is the same
    * IEEE expression in both engines, the cosine rounds to 6dp with a
    * neighbor_id tiebreak. The quantize/dequantize map is the one
    * interpreted HOF in the path — per-row O(d), production would
    * mirror DotProduct's codegen.
    */
  def knnSq8Recall(emb: DataFrame, nQueries: Int = 50, k: Int = 3): DataFrame = {
    val all = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val mm = all.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("dim").collect()
    // typedLit (round-14): one Literal node holding the whole array,
    // not a d-child CreateArray — at production embedding widths
    // (d=512/1024) the CreateArray form grows the plan tree and the
    // generated code linearly in d; a single ArrayData literal is
    // O(1) in both (Dim512Spec pins plan build + execution at d=512)
    val mins = typedLit(mm.map(_.getDouble(1)).toSeq)
    val rngs = typedLit(mm.map { r =>
      val d = r.getDouble(2) - r.getDouble(1)
      if (d == 0.0) 1.0 else d
    }.toSeq)
    // codes -> reconstructed values (x_hat = mn + c * rng / 255): the
    // compressed-domain ranking runs on the DEQUANTIZED vectors (raw
    // shifted-code dot products are not rank-equivalent to cosine),
    // which is what an SQ8 index actually scans
    val codes = all.select(col("vec_id"),
      transform(col("v"), (x, i) =>
        element_at(mins, i + 1) +
          round((x - element_at(mins, i + 1)) * 255.0 /
            element_at(rngs, i + 1)) *
          element_at(rngs, i + 1) / 255.0).as("d"))
      .withColumn("dnrm", norm(col("d")))
    val qCodes = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("d").as("qd"),
        col("dnrm").as("qdnrm"))
    val sq8Scored = broadcast(qCodes)
      .join(codes, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qd"), col("d")) / (col("qdnrm") * col("dnrm")), 6)
          .as("qcos"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val sq8Top = sq8Scored.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k).select("query_id", "neighbor_id")
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val exactScored = broadcast(queries)
      .join(all, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
    val we = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val exactTop = exactScored.withColumn("rn", row_number().over(we))
      .filter(col("rn") <= k).select("query_id", "neighbor_id")
    exactTop.as("e")
      .join(sq8Top.as("p"),
        col("e.query_id") === col("p.query_id") &&
          col("e.neighbor_id") === col("p.neighbor_id"), "left")
      .groupBy(col("e.query_id").as("query_id"))
      .agg(round(count(col("p.neighbor_id")).cast("double") / k, 4)
        .as("recall"))
      .orderBy("query_id")
  }

  def knnSq8RecallOracle(nQueries: Int = 50, k: Int = 3): String =
    s"""WITH allv AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |dims AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM allv, range(1, 65) AS r(i) GROUP BY i),
       |codes AS (SELECT vec_id,
       |    list(mn + round((v[i] - mn) * 255.0 /
       |        (CASE WHEN mx = mn THEN 1.0 ELSE mx - mn END)) *
       |      (CASE WHEN mx = mn THEN 1.0 ELSE mx - mn END) / 255.0
       |      ORDER BY i) AS d
       |  FROM allv, dims GROUP BY vec_id),
       |qcodes AS (SELECT vec_id AS query_id, d AS qd FROM codes
       |  WHERE vec_id < $nQueries),
       |sq8_scored AS (SELECT query_id, vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> qd[i] * d[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> qd[i] * qd[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> d[i] * d[i])))),
       |      6) AS qcos
       |  FROM qcodes JOIN codes ON query_id <> vec_id),
       |sq8_topk AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY qcos DESC, neighbor_id ASC) AS rn
       |    FROM sq8_scored) WHERE rn <= $k),
       |exact_scored AS (SELECT a.query_id, vec_id AS neighbor_id,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) /
       |      (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
       |       sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))),
       |      6) AS cos_sim
       |  FROM (SELECT vec_id AS query_id, v AS qv FROM allv
       |        WHERE vec_id < $nQueries) a
       |  JOIN allv ON query_id <> vec_id),
       |exact_topk AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
       |    FROM exact_scored) WHERE rn <= $k)
       |SELECT e.query_id,
       |  round(count(p.neighbor_id) / $k.0, 4) AS recall
       |FROM exact_topk e LEFT JOIN sq8_topk p
       |  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** Label-noise detection (data curation): a vector whose cosine to
    * its OWN label's centroid is beaten by some OTHER label's centroid
    * (margin < 0) is a mislabeling suspect. Reported per label:
    * population, suspect count, fixed-point-exact mean margin.
    *
    * Scale posture: strictly linear — per-label centroids are one
    * map-side-combined fixed-point aggregation (the [[trainedCents]]
    * device: integer component sums, so the mean is order-independent
    * and engine-identical), then scoring is a broadcast of L centroid
    * rows against the corpus (O(n·L) FLOPs, map-only; L = #labels,
    * never grows with data). No pairwise anything: the O(n²) k-NN
    * label-vote formulation this replaces cannot ship at 100 TB, the
    * centroid margin can.
    */
  def labelNoise(emb: DataFrame): DataFrame = {
    val all = emb.select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val perDim = all
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        round(col("x") * FixPoint).cast("long").as("q"))
      .groupBy("label", "dim")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
    val cents = perDim
      .groupBy("label")
      .agg(collect_list(struct(col("dim"),
        (col("s").cast("double") / (col("n") * lit(FixPoint.toDouble)))
          .as("x"))).as("parts"))
      .select(col("label").as("clabel"),
        transform(array_sort(col("parts")), p => p.getField("x")).as("cv"))
      .withColumn("cnrm", norm(col("cv")))
    val scored = all.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6)
          .as("ccos"))
    // one conditional aggregation instead of an own-side/other-side
    // self-join: drops an n-row SortMergeJoin and its exchanges
    // (label is constant per vec_id, so max() just carries it)
    scored.groupBy("vec_id")
      .agg(max(col("label")).as("label"),
        max(when(col("label") === col("clabel"), col("ccos")))
          .as("own_cos"),
        max(when(col("label") =!= col("clabel"), col("ccos")))
          .as("best_other"))
      // no other-label competitor (single distinct label) => no margin
      // row, matching the oracle's inner own-join-other; without this
      // the NULL margins would skew n vs the null-skipping sum
      .filter(col("best_other").isNotNull)
      .withColumn("margin", round(col("own_cos") - col("best_other"), 6))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("margin") < 0, 1L).otherwise(0L)).as("n_suspect"),
        // margins are exact 6dp values; sum them in fixed point so the
        // mean is fold-order-independent (same device as the centroid)
        round(sum(round(col("margin") * FixPoint).cast("long"))
            .cast("double") / (count(lit(1)) * lit(FixPoint.toDouble)), 6)
          .as("avg_margin"))
      .orderBy("label")
  }

  def labelNoiseOracle: String =
    s"""WITH allv AS (SELECT vec_id, label::BIGINT AS label,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |nrmv AS (SELECT vec_id, label, v,
       |    sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))
       |      AS nrm
       |  FROM allv),
       |perdim AS (SELECT label, i AS dim,
       |    sum(round(v[i] * $FixPoint)::BIGINT) AS s, count(*) AS n
       |  FROM allv, range(1, 65) AS r(i) GROUP BY label, i),
       |cents AS (SELECT label AS clabel,
       |    list(s::DOUBLE / (n * $FixPoint.0) ORDER BY dim) AS cv
       |  FROM perdim GROUP BY label),
       |cnorm AS (SELECT clabel, cv,
       |    sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))
       |      AS cnrm
       |  FROM cents),
       |scored AS (SELECT vec_id, label, clabel,
       |    round(
       |      list_sum(list_transform(range(1, 65), i -> v[i] * cv[i])) /
       |      (nrm * cnrm), 6) AS ccos
       |  FROM nrmv CROSS JOIN cnorm),
       |own AS (SELECT vec_id, label, ccos AS own_cos FROM scored
       |  WHERE label = clabel),
       |other AS (SELECT vec_id, max(ccos) AS best_other FROM scored
       |  WHERE label <> clabel GROUP BY vec_id),
       |margins AS (SELECT label,
       |    round(own_cos - best_other, 6) AS margin
       |  FROM own JOIN other USING (vec_id))
       |SELECT label, count(*) AS n,
       |  sum(CASE WHEN margin < 0 THEN 1 ELSE 0 END)::BIGINT AS n_suspect,
       |  round(sum(round(margin * $FixPoint)::BIGINT)::DOUBLE /
       |    (count(*) * $FixPoint.0), 6) AS avg_margin
       |FROM margins GROUP BY label ORDER BY label""".stripMargin
}
