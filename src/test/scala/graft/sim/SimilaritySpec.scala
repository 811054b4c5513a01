package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SimilaritySpec extends SparkTestBase {

  private lazy val e = spark.read
    .parquet("/root/testdata/sf0.01/embeddings.parquet")
  private lazy val q = e.filter(col("vec_id") < 8)
    .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multi-table LSH recall dominates single-table") {
    val brute = pairs(Similarity.bruteTopK(
      e, q, "vec_id", "embedding", "query_id", "qe", k = 5))
    val single = pairs(Similarity.lshTopK(
      e, q, "vec_id", "embedding", "query_id", "qe", k = 5, planes = 6))
    // these embeddings are weakly correlated (top cosines ~0.3), so the
    // per-plane agreement p is near 0.5 — recall needs shorter codes and
    // more tables: ~1-(1-p^4)^8
    val multi = pairs(Similarity.lshTopKMulti(
      e, q, "vec_id", "embedding", "query_id", "qe", k = 5, planes = 4, tables = 8))
    val rSingle = (single & brute).size.toDouble / brute.size
    val rMulti = (multi & brute).size.toDouble / brute.size
    assert(rMulti >= rSingle, s"multi $rMulti < single $rSingle")
    assert(rMulti >= 0.4, s"multi-table recall too low: $rMulti")
  }

  test("recallAtK: exact arm scores 1.0, partial-probe IVF in (0, 1]") {
    val brute = Similarity.bruteTopK(
      e, q, "vec_id", "embedding", "query_id", "qe", k = 5)
    // self-recall: every query exactly 1.0, n_hit == n_exact
    val self = Similarity.recallAtK(brute, brute, k = 5).collect()
    assert(self.length == 8)
    assert(self.forall(r => r.getAs[Double]("recall") == 1.0 &&
      r.getAs[Long]("n_hit") == r.getAs[Long]("n_exact")), self.mkString(","))
    // partial probe (the arm the SQL oracle can't express): recall is
    // measurable and the mean stays useful at nprobe=2 of 8 cells
    val model = Ivf.fit(e, "vec_id", "embedding", k = 8)
    val ivf2 = Ivf.topK(e, q, "vec_id", "embedding", "query_id", "qe",
      model, k = 5, nprobe = 2)
    val rec = Similarity.recallAtK(ivf2, brute, k = 5)
      .agg(avg(col("recall"))).head.getDouble(0)
    assert(rec > 0.0 && rec <= 1.0, s"ivf nprobe=2 mean recall $rec")
    // a missing-query arm scores 0, not a dropped row
    val empty = Similarity.recallAtK(brute.filter(col("query_id") < 4),
      brute, k = 5)
    assert(empty.count() == 8 &&
      empty.filter(col("query_id") >= 4)
        .collect().forall(_.getAs[Double]("recall") == 0.0))
  }

  test("LSH near-dup pairs: subset of brute pairs, identical cosines, decent recall") {
    val brute = Similarity.brutePairs(e, "vec_id", "embedding", threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.45, planes = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // no false positives: every emitted pair is a true above-threshold
    // pair and its cosine is the exact value (same codegen kernel)
    lsh.foreach { case (pair, cos) =>
      assert(brute.contains(pair), s"false positive $pair")
      assert(brute(pair) === cos, s"cosine mismatch on $pair")
    }
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.5, s"near-dup recall too low: $recall (${lsh.size}/${brute.size})")
  }

  test("lshNearDupPairs maxBucket: degenerate cluster dropped, rest intact") {
    import spark.implicits._
    // 12 identical vectors = one bucket per table holding all 12 — the
    // degenerate-embedding clique that turns the self-join quadratic.
    // Plus one genuine near-dup pair with a different sign pattern.
    val clique = (100L to 111L).map(id => (id, Array.fill(16)(-1.0f)))
    val dup = Seq(
      (1L, Array.tabulate(16)(i => if (i == 0) 1.0f else 0.5f)),
      (2L, Array.tabulate(16)(i => if (i == 0) 0.9f else 0.5f)))
    val corpus = (clique ++ dup).toDF("vec_id", "embedding")
    def run(cap: Int) = Similarity.lshNearDupPairs(corpus, "vec_id",
        "embedding", threshold = 0.9, planes = 4, tables = 4, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = run(0)
    val capped = run(8)
    // capped is a subset with identical cosines (same exact kernel)
    capped.foreach { case (p, c) =>
      assert(uncapped.get(p).contains(c), s"capped pair $p not in uncapped")
    }
    // every clique pair is present uncapped (cosine 1.0) and gone capped:
    // all 12 members share EVERY bucket, so each clique bucket is > 8,
    // while (1,2) ride their own 2-member bucket in all four tables
    assert(uncapped.keys.count(p => p._1 >= 100L) == 12 * 11 / 2, uncapped.keySet)
    assert(capped.keySet == Set((1L, 2L)), capped.keySet)
    spark.catalog.clearCache() // lshNearDupPairs persists its slim table
  }

  test("sq8: per-dim reconstruction error bound, flat dims exact, clamping") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(0.0f, 5.0f, 1.0f, -3.0f)),
      (2L, Array(10.0f, 5.0f, 0.5f, 3.0f)),
      (3L, Array(4.0f, 5.0f, 0.75f, 0.0f)))
      .toDF("vec_id", "embedding")
    val (mn, mx) = Similarity.sq8Params(rows, "vec_id", "embedding")
    assert(mn.toSeq === Seq(0.0, 5.0, 0.5, -3.0))
    assert(mx.toSeq === Seq(10.0, 5.0, 1.0, 3.0))
    val rec = rows.select($"vec_id",
        Similarity.sq8Reconstruct($"embedding", mn, mx).as("r"))
      .as[(Long, Array[Double])].collect().toMap
    // in-range dims reconstruct within half a quantization step
    val orig = Map(1L -> Array(0.0, 5.0, 1.0, -3.0),
      2L -> Array(10.0, 5.0, 0.5, 3.0), 3L -> Array(4.0, 5.0, 0.75, 0.0))
    orig.foreach { case (id, v) =>
      v.indices.foreach { d =>
        val step = (mx(d) - mn(d)) / 255.0
        assert(math.abs(rec(id)(d) - v(d)) <= step / 2 + 1e-12,
          s"id $id dim $d: ${rec(id)(d)} vs ${v(d)}")
      }
    }
    // dim 1 is flat (all 5.0): reconstructs exactly, no 0/0
    assert(orig.keys.forall(id => rec(id)(1) == 5.0))
    // out-of-sample values clamp to the code range instead of escaping it
    val far = Seq((9L, Array(100.0f, 5.0f, -100.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .select(Similarity.sq8Reconstruct($"embedding", mn, mx).as("r"))
      .as[Array[Double]].collect().head
    assert(far(0) == mx(0) && far(2) == mn(2))
  }

  test("multi-table candidates are deduped: at most k rows per query") {
    val multi = Similarity.lshTopKMulti(
      e, q, "vec_id", "embedding", "query_id", "qe", k = 5, planes = 4, tables = 8)
    val counts = multi.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("neighbor_id")).as("d"))
      .collect()
    counts.foreach { r =>
      assert(r.getLong(1) <= 5)
      assert(r.getLong(1) === r.getLong(2))
    }
  }

  test("semanticContaminated: nearest eval, tie to lowest id, >= boundary") {
    import spark.implicits._
    // corpus 10 is a verbatim copy of eval 1 AND eval 2 (cosine 1.0
    // to both — the tie must resolve to the LOWER eval id); corpus 11
    // is orthogonal to everything; corpus 12 sits at exactly the
    // threshold (cos 45° vs eval 1) — >= must flag it
    val ev = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("eval_id", "ee")
    val corpus = Seq(
      (10L, Array(2.0f, 0.0f, 0.0f)),   // scaled copy: cosine 1.0
      (11L, Array(0.0f, 0.0f, 5.0f)),   // orthogonal: cosine 0.0
      (12L, Array(1.0f, 1.0f, 0.0f)))   // cos 45° = 0.7071.. to 1/2/3
      .toDF("vec_id", "embedding")
    val thr = math.sqrt(0.5) // exactly the cosine of corpus 12
    val out = Similarity.semanticContaminated(corpus, ev,
        "vec_id", "embedding", "eval_id", "ee", threshold = thr)
      .select($"vec_id", $"nearest_eval_id", $"max_eval_cosine",
        $"contaminated")
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(10L)._2 === 1L, "tie must resolve to the lowest eval id")
    assert(out(10L)._3 === 1.0 && out(10L)._4)
    assert(out(11L)._3 === 0.0 && !out(11L)._4)
    assert(out(12L)._2 === 1L)
    assert(out(12L)._4 === (out(12L)._3 >= thr),
      "boundary flag must follow the >= contract")
  }

  test("semanticContaminated: every corpus row surfaces, even the |eval|=1 self-pair") {
    import spark.implicits._
    // a corpus row whose id equals the ONLY eval id has no non-self
    // pair — it must still appear in the audit (null nearest/cosine,
    // contaminated = false), never be silently dropped; and an id
    // shared with ONE of several eval docs scores against the rest
    val ev = Seq((10L, Array(1.0f, 0.0f))).toDF("eval_id", "ee")
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),         // self-only: no scorable pair
      (11L, Array(1.0f, 0.0f)))         // genuine hit
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticContaminated(corpus, ev,
        "vec_id", "embedding", "eval_id", "ee", threshold = 0.5)
      .select($"vec_id", $"nearest_eval_id", $"max_eval_cosine",
        $"contaminated")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 2, "one output row per corpus vector, always")
    assert(out(10L).isNullAt(1) && out(10L).isNullAt(2))
    assert(!out(10L).getBoolean(3),
      "a row with no scorable eval pair is not contaminated")
    assert(out(11L).getLong(1) === 10L && out(11L).getBoolean(3))
  }
}
