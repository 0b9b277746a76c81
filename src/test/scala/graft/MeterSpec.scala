package graft

/** Runtime shuffle-volume invariants: the plan-audit claims in
  * PLANS.md ("this query never shuffles the big side") asserted with a
  * listener on real executions, so a refactor that silently introduces
  * a wide exchange fails the suite, not just the bench.
  */
class MeterSpec extends SparkSpec {

  /** Shuffle bytes written and input bytes read by `run`'s jobs. */
  private def measure(run: => Unit): (Long, Long) = {
    val t = metered(run)._2
    (t.shuffleWriteBytes, t.inputBytes)
  }

  test("seq packing is window-only: shuffle carries ids+counts, not text") {
    val (sw, input) = measure {
      SparkEntry.queries("ns_seq_pack")(spark, sf).count()
    }
    // only (source, doc_id, n_toks) rows cross the exchange — the
    // document text itself must never shuffle
    assert(sw < 64 * 1024, s"seq_pack shuffled $sw bytes")
  }

  test("the TPC-H join chain broadcasts every dimension: fact never shuffles") {
    val (sw, input) = measure {
      SparkEntry.queries("q5_region_volume")(spark, sf).count()
    }
    // only the 5-row aggregate's exchange may move — lineitem
    // shuffling would be orders of magnitude more
    assert(sw < 64 * 1024, s"q5 shuffled $sw bytes (input $input)")
  }

  test("top-p shuffles vocab partials, not the token stream") {
    val (sw, input) = measure {
      SparkEntry.queries("w2_top90")(spark, sf).count()
    }
    assert(sw < 256 * 1024, s"w2_top90 shuffled $sw bytes (input $input)")
  }

  test("LSH dedup shuffles signatures, not text: 8x the text, same bytes") {
    // the PLANS.md claim measured: per-doc shuffle cost is the fixed
    // signature width. Repeating each text 8x leaves the shingle SET
    // (hence every minhash signature) identical, so if the exchanges
    // carry signatures the shuffle must not grow with the text bytes.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (swBase, _) = measure {
      graft.ops.Dedup.minhashLsh(docs, 0.5).count()
    }
    val fat = docs.select(col("doc_id"),
      concat_ws(" ", array_repeat(col("text"), 8)).as("text"))
    val (swFat, inputFat) = measure {
      graft.ops.Dedup.minhashLsh(fat, 0.5).count()
    }
    assert(swFat < swBase * 3 / 2,
      s"8x text grew the LSH shuffle $swBase -> $swFat bytes " +
        s"(input $inputFat); exchanges must carry signatures, not text")
    // and the absolute volume is the signature budget: <= ~2 KB/doc
    val nDocs = docs.count()
    assert(swBase < nDocs * 2048,
      s"LSH shuffled $swBase bytes for $nDocs docs (> 2 KB/doc)")
  }

  test("wide simhash shuffles 64-bit fingerprints: bounded per doc") {
    val (sw, input) = measure {
      SparkEntry.queries("ns_dedup_simhash64")(spark, sf).count()
    }
    // the 4x15-bit Manku block join moves (block-key, fingerprint, id)
    // rows — a fixed-width budget per doc, never the text
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(sw < nDocs * 1024,
      s"simhash64 shuffled $sw bytes for $nDocs docs (input $input)")
  }

  test("span dedup broadcasts the dup-hash side: window stream never shuffles") {
    val (sw, input) = measure {
      SparkEntry.queries("ns_span_dedup")(spark, sf).count()
    }
    // only the per-doc rollup's exchange may move; the O(tokens)
    // sliding-window stream shuffling would be ~input-sized
    assert(sw < 64 * 1024, s"span_dedup shuffled $sw bytes (input $input)")
  }

  test("custom top-k exec shuffles like WindowGroupLimit, 20x under naive") {
    // Three plans for the same query on 200k rows / 10 keys:
    //  - naive window (WindowGroupLimit disabled via its threshold
    //    conf): shuffles the FULL input — what every pre-3.5 Spark and
    //    any non-rank-pattern top-k still pays;
    //  - Spark's WindowGroupLimit path (default): map-side rank-limit
    //    prune before the exchange;
    //  - TopKPerKeyExec: map-side bounded heaps.
    // The custom exec must land in the optimized class (parity with
    // WindowGroupLimit's shuffle, 20x under naive) — measured, so a
    // planner regression that falls back to a full exchange fails
    // here. Spark's rule only fires on the syntactic
    // rank-filter pattern; the exec keeps the same prune available as
    // a composable operator.
    import org.apache.spark.sql.functions.{col, row_number}
    val big = spark.range(0, 200000, 1, 8).select(
      (col("id") % 10).as("key"),
      (col("id") * 2654435761L % 1000003).as("score"),
      col("id"))
    def windowForm = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
        .orderBy(col("score").desc, col("id").asc)
      big.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3).drop("rn").count()
    }
    val limitKey = "spark.sql.optimizer.windowGroupLimitThreshold"
    val prev = spark.conf.get(limitKey)
    val (swNaive, _) =
      try { spark.conf.set(limitKey, "-1"); measure(windowForm) }
      finally spark.conf.set(limitKey, prev)
    val (swWindow, _) = measure(windowForm)
    val (swExec, _) = measure {
      graft.plans.TopKPerKey.topK(big, Seq("key"),
        Seq(col("score").desc, col("id").asc), 3).count()
    }
    assert(swExec > 0, "exec form should still pay its pruned exchange")
    assert(swExec * 20 < swNaive,
      s"exec shuffled $swExec bytes vs naive window's $swNaive — " +
        "expected at least 20x less")
    assert(swExec <= swWindow * 3 / 2,
      s"exec ($swExec bytes) should match the WindowGroupLimit class " +
        s"($swWindow bytes)")
  }

  test("star-contraction CC: O(log n) rounds, per-round shuffle O(|E|)") {
    // adversarial diameter: one 4096-node path — the shape where
    // label propagation needs thousands of rounds and where a
    // lineage/contraction regression would blow either the round
    // count or the per-round edge volume
    import spark.implicits._
    val n = 4096
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("src", "dst")
    var rounds = 0
    val (sw, _) = measure {
      val (labels, r) = graft.ops.Graph.ccStar(chain)
      rounds = r
      // one component rooted at 0 covering every node
      assert(labels.agg(
        org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.col("label")),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).as[(Long, Long)]
        .head() == ((1L, n.toLong)))
    }
    // path contraction is O(log n) rounds (measured: 13 = log2(4096)+1
    // including the fixpoint-confirm round), never the O(n) of label
    // propagation — bound at log2(n)+3 so a contraction regression
    // fails loudly while round-count jitter doesn't
    val logBound = (math.log(n.toDouble) / math.log(2)).toInt + 3
    assert(rounds <= logBound,
      s"ccStar took $rounds rounds on a $n-chain (bound $logBound)")
    // per-round shuffle must stay proportional to the edge list:
    // ~8 exchanges per round x |E| fixed-width rows. 512 bytes/edge
    // is an order of magnitude above measured (~60 B/edge/round) but
    // far below the O(|E|^2)/lineage-replay regressions this guards
    // against — includes the final label rollup and fingerprint aggs.
    val perRound = sw / math.max(1, rounds)
    assert(perRound < 512L * (n - 1),
      s"ccStar shuffled $sw bytes over $rounds rounds " +
        s"(${perRound / (n - 1)} B/edge/round)")
  }
}
