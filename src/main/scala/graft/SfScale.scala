package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier: derive an `sf1`-shaped directory from the
  * driver's sf0.1 tables by multiplying every fact table `mult`-fold
  * with CONSISTENT key remapping, so the full Bench/Verify query set
  * runs unmodified at 10x the data (verdict round-9 ask #3).
  *
  * Design decisions (each preserves the property the bench measures):
  *  - every surrogate key k becomes `k*mult + copy`, with the SAME copy
  *    index across a row's keys — referential integrity holds within a
  *    copy, so every join keeps its sf0.1 selectivity and fan-out, and
  *    per-key group sizes stay constant (group COUNT scales 10x, which
  *    is the realistic 100-TB direction: more entities, not 10x-deeper
  *    entities);
  *  - `nation`/`region` stay verbatim: dims are fixed-size in TPC-H at
  *    every scale factor, and the broadcast-ability the plans rely on
  *    must stay representative;
  *  - `documents.text` for copies > 0 gets a per-copy token prefix
  *    (copy 0 stays verbatim): texts across copies are DISJOINT, so
  *    minhash/simhash/ngram near-dup pair volume scales exactly 10x
  *    (each copy reproduces the fixture's planted-variant pairs).
  *    Duplicating text verbatim would instead plant C(mult,2)-cliques
  *    of exact dups per doc and measure fixture blowup, not the
  *    operator (same reasoning as the distinct SynthDocsSource corpus
  *    ScaleClaimsSpec runs near-dup search over);
  *  - `embeddings.embedding` for copies > 0 gets a per-copy CYCLIC
  *    SHIFT of its dimensions COMPOSED with a per-block SIGN-FLIP
  *    pattern. Both factors are orthogonal (a permutation, and a
  *    diagonal of ±1), so every intra-copy dot product, norm and
  *    distance is preserved EXACTLY (each copy reproduces the base
  *    corpus's near-dup pairs and cluster geometry, and pair volume
  *    scales exactly `mult`x), while cross-copy similarity is
  *    scrambled — additive jitter instead plants mult-cliques of
  *    near-identical vectors and measures fixture blowup, not the
  *    operator. The sign-flip factor is what keeps the transforms
  *    PAIRWISE-DISTINCT past mult=dim: the shift alone has only `dim`
  *    values (copy dim would equal copy 0 verbatim, planting ~n/dim
  *    cross-copy exact duplicates at mult=100), so block
  *    `copy / dim` flips the sign of dimension d when bit (d mod 30)
  *    of the block index is set — equal shifts force equal
  *    `copy mod dim`, hence different blocks, hence different flip
  *    patterns, for every mult up to dim * 2^30;
  *  - timestamps are carried verbatim: date-range filters keep their
  *    selectivity and event-time windows get 10x denser, which is how
  *    a real corpus grows at fixed wall-clock span.
  *
  * Usage: runMain graft.SfScale [srcDir] [dstDir] [mult]
  */
object SfScale {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local()
    val t0 = System.nanoTime()
    val counts = generate(spark, src, dst, mult)
    val secs = (System.nanoTime() - t0) / 1e9
    val js = counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"src":"$src","dst":"$dst","mult":$mult,$js,"gen_sec":$secs}""")
    spark.stop()
  }

  /** The per-copy orthogonal embedding transform (copy 0 verbatim):
    * cyclic shift by `copy*7 mod dim`, then flip the sign of output
    * dimension d when bit (d mod 30) of block `copy / dim` is set.
    * Shift and sign-diagonal are both orthogonal, so intra-copy
    * geometry is exact; the composition is injective in `copy` (equal
    * shift ⇒ equal copy mod dim ⇒ distinct blocks ⇒ distinct flips),
    * which the shift alone is NOT once mult exceeds dim — the
    * round-10 advisor's cross-copy-duplicate finding. Factored out so
    * SfScaleSpec can pin distinctness and isometry directly.
    */
  def perturbEmbedding(copy: Column, embedding: Column): Column = {
    val dim = size(embedding)
    val shift = pmod(copy * 7, dim.cast("bigint")).cast("int")
    val block = floor(copy / dim).cast("long")
    val shifted = concat(slice(embedding, shift + 1, dim - shift),
      slice(embedding, lit(1), shift))
    val flipped = transform(shifted, (x, i) =>
      when(call_function("shiftright", block, pmod(i, lit(30)))
        .bitwiseAND(lit(1L)) === 1L, negate(x)).otherwise(x))
    when(copy === 0, embedding).otherwise(flipped)
  }

  /** Materialize the multiplied directory; returns per-table row counts. */
  def generate(spark: SparkSession, src: String, dst: String,
      mult: Int): Seq[(String, Long)] = {
    val copies = spark.range(mult).select(col("id").as("copy"))

    // `k*mult + copy` — same copy index for every key in a row keeps
    // referential integrity inside each copy.
    def remap(df: DataFrame, keyCols: Seq[String]): DataFrame =
      keyCols.foldLeft(df.crossJoin(copies)) { (d, k) =>
        d.withColumn(k, col(k) * mult + col("copy"))
      }

    def write(name: String, df: DataFrame, parts: Int): (String, Long) = {
      val out = df.drop("copy").repartition(parts)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      (name, spark.read.parquet(s"$dst/$name.parquet").count())
    }

    def tbl(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // Per-copy-disjoint text: prefix every token with c{copy}x, copy 0
    // verbatim. Intra-copy similarity is untouched (a uniform token
    // edit preserves Jaccard/shingle overlap exactly), cross-copy
    // overlap drops to zero.
    val docText = when(col("copy") === 0, col("text")).otherwise(
      array_join(transform(split(col("text"), " "),
        t => concat(lit("c"), col("copy"), lit("x"), t)), " "))

    val perturbed = perturbEmbedding(col("copy"), col("embedding"))

    Seq(
      write("region", tbl("region"), 1),
      write("nation", tbl("nation"), 1),
      write("customer", remap(tbl("customer"), Seq("c_custkey")), 4),
      write("supplier", remap(tbl("supplier"), Seq("s_suppkey")), 2),
      write("part", remap(tbl("part"), Seq("p_partkey")), 4),
      write("orders", remap(tbl("orders"), Seq("o_orderkey", "o_custkey")), 8),
      write("lineitem", remap(tbl("lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")), 32),
      write("events", remap(tbl("events"), Seq("event_id", "user_id")), 8),
      write("documents", remap(tbl("documents"), Seq("doc_id"))
        .withColumn("text", docText)
        .withColumn("n_chars", length(col("text"))), 8),
      write("embeddings", remap(tbl("embeddings"), Seq("vec_id"))
        .withColumn("embedding", perturbed), 8))
  }
}
