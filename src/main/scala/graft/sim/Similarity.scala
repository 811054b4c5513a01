package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.Partitioning.spread

/** Embedding similarity search: exact cosine, brute-force top-k (the
  * correctness baseline), and hyperplane-LSH bucketing (the scale path).
  *
  * Numeric portability: elements are cast to double BEFORE any
  * arithmetic, the dot product is a sequential left-fold in index order,
  * and sqrt/mul/div are IEEE-correctly-rounded — so any engine that
  * folds in the same order produces bit-identical cosines.
  */
object Similarity {

  /** Exact cosine similarity of two numeric-array columns. Native
    * codegen Expression ([[graft.functions.CosineSim]]) — same IEEE op
    * sequence as the interpreted HOF form it replaced (0.0-seeded
    * ascending folds), so results are bit-identical.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** Brute-force cosine top-k: every query row against the full corpus,
    * rank by (cosine desc, id) per query. The query side should be small
    * (it is broadcast); corpus side streams — O(|Q|·|C|) compute but no
    * shuffle of the corpus.
    */
  def bruteTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    val scored = spread(corpus).crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        cosine(col(vecCol), col(qVecCol)).as("cosine"))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** All corpus pairs (i<j) with cosine >= threshold. O(n²/2) compute,
    * executed as a broadcast + per-partition tight loop instead of a
    * Catalyst lambda per element (~100× less overhead on the quadratic
    * kernel). The fold order (ascending index, 0.0 seed) matches the
    * [[cosine]] column form and the DuckDB list_reduce oracle
    * bit-for-bit. Broadcasting the corpus bounds this to small/medium
    * corpora — the 100 TB path is [[lshNearDupPairs]]' bucketing.
    */
  def brutePairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = spread(corpus).select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    val bc = spark.sparkContext.broadcast(
      rows.collect().sortBy(_._1))
    rows.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (ida, va) =>
        all.iterator
          .filter(_._1 > ida)
          .flatMap { case (idb, vb) =>
            var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            while (i < va.length) {
              val x = va(i).toDouble; val y = vb(i).toDouble
              dot += x * y; na += x * x; nb += y * y; i += 1
            }
            val cos = dot / (math.sqrt(na) * math.sqrt(nb))
            if (cos >= threshold) Some((ida, idb, cos)) else None
          }
      }
    }.toDF("id_a", "id_b", "cosine")
  }

  /** Per-dimension SQ8 affine parameters — (min_d, max_d) over the
    * `maxSample` lowest-id vectors (the [[Ivf.fit]] bounded-sample
    * contract; dims × 16 bytes of driver state). Min/max are pure
    * comparisons, so unlike a mean they are order-independent and
    * engine-exact by construction.
    */
  def sq8Params(corpus: DataFrame, idCol: String, vecCol: String,
      maxSample: Int = 256): (Array[Double], Array[Double]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .orderBy(col(idCol)).limit(maxSample).collect()
    require(sample.nonEmpty, "need at least one vector to fit SQ8 params")
    val dim = sample.head._2.length
    val mn = Array.fill(dim)(Double.MaxValue)
    val mx = Array.fill(dim)(Double.MinValue)
    sample.foreach { case (_, v) =>
      var i = 0
      while (i < dim) {
        val x = v(i).toDouble
        if (x < mn(i)) mn(i) = x
        if (x > mx(i)) mx(i) = x
        i += 1
      }
    }
    (mn, mx)
  }

  /** Per-dimension scalar-quantized reconstruction (SQ8, the FAISS
    * `SQ8` layout): code_d = round-half-up of
    * (x_d−mn_d)·255/(mx_d−mn_d) clamped to [0,255] (out-of-sample
    * values saturate), x̂_d = mn_d + code_d·(mx_d−mn_d)/255.
    * Round-half-up is spelled with IEEE floor, which is bit-identical
    * across engines (round() is not: Spark and DuckDB disagree at the
    * last ulp); a flat dimension (mx == mn) reconstructs to its
    * constant. Params ride the plan as literal arrays (dims × 16
    * bytes); the whole encode+decode is a map-side expression on the
    * corpus scan — at serving time the stored artifact is the 1-byte-
    * per-dim code row, 4× smaller than float and 4× larger than
    * PQ-128's 16 bytes: the middle rung of the compression ladder.
    */
  def sq8Reconstruct(vec: Column, mn: Array[Double],
      mx: Array[Double]): Column = {
    val mnLit = array(mn.map(lit): _*)
    val mxLit = array(mx.map(lit): _*)
    transform(vec, (x, i) => {
      val lo = element_at(mnLit, i + 1)
      val hi = element_at(mxLit, i + 1)
      val range = hi - lo
      val q = greatest(lit(0.0), least(lit(255.0),
        floor((x.cast("double") - lo) * 255.0 / range + 0.5)))
      when(range === 0.0, lo).otherwise(lo + q * range / 255.0)
    })
  }

  /** Per-dimension binarization thresholds: the mean of each dimension
    * over the `maxSample` lowest-id vectors, summed in id order
    * (deterministic — the [[Ivf.fit]] bounded-sample contract; dims ×
    * 8 bytes of driver state). Thresholding at the per-dim center is
    * what makes binary codes informative — raw sign bits degenerate
    * when a corpus is not zero-centered (measured here: the synthetic
    * embeddings are almost all-positive, so sign codes collapse to one
    * value and recall falls to ~chance).
    */
  def signThresholds(corpus: DataFrame, idCol: String, vecCol: String,
      maxSample: Int = 256): Array[Double] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .orderBy(col(idCol)).limit(maxSample).collect()
    require(sample.nonEmpty, "need at least one vector to fit thresholds")
    val dim = sample.head._2.length
    Array.tabulate(dim) { i =>
      var s = 0.0
      sample.foreach { case (_, v) => s += v(i).toDouble }
      s / sample.length
    }
  }

  /** Center-thresholded binary code: bit i set iff vec[i] > thr[i] —
    * one 64-bit word per (up to 64-dim) vector, the cheapest tier of
    * the compression curve (64 bits vs int8's 512 and PQ-128's 128).
    * Ranking is Hamming distance (`bit_count(xor)`) — one xor+popcount
    * per pair, which is why binary codes are the classic coarse-filter
    * tier above PQ. Exact arithmetic: past the `> thr` compare (both
    * sides the identical double) everything is integer — the bit fold
    * is disjoint-bit OR (SUM ≡ OR in the oracle, ZOrder's trick),
    * engine-portable with no FP rounding anywhere.
    */
  def signBits(vec: Column, thresholds: Array[Double]): Column = {
    require(thresholds.length >= 1 && thresholds.length <= 64,
      s"need 1 <= dim <= 64, got ${thresholds.length}")
    thresholds.indices.map(i =>
      shiftleft(when(element_at(vec, i + 1).cast("double") > lit(thresholds(i)),
        lit(1L)).otherwise(lit(0L)), i))
      .reduceLeft(_ bitwiseOR _)
  }

  /** Executor-local scalar twin of [[signBits]] for the stream-edge
    * typed maps — same double cast, same strict >, same bit layout,
    * and the SAME dim <= 64 contract: without the require, a 65th
    * threshold would silently wrap `1L << 64` to bit 0 (JVM shift
    * counts are mod 64) and scramble the code where the column form
    * throws. One definition so the mirror cannot drift per call site.
    */
  private[graft] def signBitsLocal(qv: Array[Float],
      thresholds: Array[Double]): Long = {
    require(thresholds.length >= 1 && thresholds.length <= 64,
      s"need 1 <= dim <= 64, got ${thresholds.length}")
    var bits = 0L
    var i = 0
    while (i < thresholds.length) {
      if (qv(i).toDouble > thresholds(i)) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Semantic decontamination: flag corpus vectors whose embedding is
    * too close (cosine >= threshold) to ANY benchmark/eval vector —
    * the paraphrase-leakage guard n-gram decontamination
    * ([[graft.text.Decontaminate]]) cannot catch, because a reworded
    * eval answer shares no 8-gram with the original but lands next to
    * it in embedding space.
    *
    * Scale shape — the reason this is NOT an ANN problem: the eval
    * side is benchmark-sized (thousands), so it broadcasts whole and
    * the corpus is scanned ONCE; per corpus row the max-similarity
    * eval doc is found by a struct max AGGREGATE (max over
    * (cosine, −eval_id) pairs — lexicographic struct ordering gives
    * highest cosine, ties to the lowest eval id), which partial-
    * aggregates map-side: the one shuffle carries |corpus| pre-folded
    * rows, no window, no sort, no pair materialization. Output one
    * row per EVERY corpus vector: (id, nearest_eval_id,
    * max_eval_cosine, contaminated). Self-pairs (a corpus id that is
    * also an eval id) are excluded from the max by turning them into
    * NULL entries rather than filtering the row set — max() skips
    * nulls, so a corpus row whose ONLY pair is itself (an |eval| = 1
    * degenerate) still surfaces, with null nearest/cosine and
    * contaminated = false, instead of silently vanishing from the
    * audit.
    */
  def semanticContaminated(
      corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, evalIdCol: String, evalVecCol: String,
      threshold: Double): DataFrame = {
    val scored = spread(corpus).crossJoin(broadcast(evalSet))
      .select(col(idCol),
        when(col(idCol) =!= col(evalIdCol),
          struct(cosine(col(vecCol), col(evalVecCol)).as("c"),
            (-col(evalIdCol)).as("neg"))).as("ce"))
    scored.groupBy(col(idCol))
      .agg(max(col("ce")).as("m"))
      .select(col(idCol),
        (-col("m.neg")).as("nearest_eval_id"),
        col("m.c").as("max_eval_cosine"),
        coalesce(col("m.c") >= lit(threshold), lit(false)).as("contaminated"))
  }

  /** Packed sign-bit bucket: bit p set iff the projection onto plane p is
    * positive. The hyperplanes are deterministic ±1 weights derived from
    * md5 parity of "p:i" — no RNG state, any engine derives the same
    * planes (the DuckDB oracle embeds [[graft.functions.HyperplanePack
    * .planeWeights]] as literals). `table` offsets the plane family so
    * independent tables get independent hyperplanes. Native codegen
    * Expression: weights are derived once per JVM, not per row — the
    * old HOF form recomputed planes × dim md5 hashes per row.
    */
  def lshBucketPacked(vecExpr: String, planes: Int, table: Int = 0): Column =
    graft.functions.HyperplanePack.hyperplane_pack(col(vecExpr), planes, table)

  /** Lake-path embedding near-dup: all pairs (i < j) with cosine >=
    * threshold, candidates from a multi-table hyperplane-LSH bucket
    * SELF-join instead of [[brutePairs]]' all-pairs broadcast. Candidate
    * generation is an equi-join on the packed bucket key (quadratic work
    * confined within buckets, like the text-dedup family); a pair
    * colliding in several tables is deduped before the one exact cosine
    * evaluation. Approximate — recall follows the OR-amplification
    * curve 1-(1-p^planes)^tables — but DETERMINISTIC: the md5-parity
    * hyperplanes replay in any engine, so the result is exactly
    * oracle-able. [[brutePairs]] is the exact (non-lake) baseline.
    *
    * Cache lifecycle (caller-owned, like `Dedup.minhashPairs` —
    * SCALING.md): the slim (id, vec) table is persisted and the
    * returned plan references it, so the CacheManager entry lives until
    * the caller clears it — `spark.catalog.clearCache()` between
    * queries (the Bench/Verify harness policy) or an unpersist once the
    * result is consumed. Long-lived sessions that skip both will
    * accumulate one entry per call.
    *
    * `maxBucket` ([[graft.ops.Skew.capBuckets]]): the same hot-bucket
    * guard the text-dedup family carries — a degenerate embedding
    * cluster (zero vectors, a constant-embedding template) lands in ONE
    * bucket per table and turns the self-join quadratic; the cap drops
    * buckets above it before candidate generation (`<= 0` = unlimited).
    */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8, tables: Int = 4,
      maxBucket: Int = 0): DataFrame = {
    // Slim candidate generation (the minhashPairs pattern): the bucket
    // self-join and the quadratic pair dedup carry ONLY (id, bucket) —
    // shipping the embedding arrays through a join whose output is
    // quadratic in bucket size multiplies shuffle volume by the vector
    // width. Vectors re-attach per deduped pair via two equi-joins
    // against the slim persisted (id, vec) table before the ONE cosine
    // evaluation (AQE broadcasts that table when it is small).
    val base = spread(corpus)
      .select(col(idCol).cast("long").as("nd_id"), col(vecCol).as("nd_vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tabs = array((0 until tables).map(t =>
      lshBucketPacked("nd_vec", planes, t) * lit(tables) + t): _*)
    val banded = graft.ops.Skew.capBuckets(
      base.select(col("nd_id"), explode(tabs).as("bucket")),
      "bucket", maxBucket)
    val cands = banded.as("a")
      .join(banded.as("b"), col("a.bucket") === col("b.bucket") &&
        col("a.nd_id") < col("b.nd_id"))
      .select(col("a.nd_id").as("id_a"), col("b.nd_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cands
      .join(base.select(col("nd_id").as("id_a"), col("nd_vec").as("vec_a")), "id_a")
      .join(base.select(col("nd_id").as("id_b"), col("nd_vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Multi-table LSH ANN (OR-amplification): candidates share a bucket
    * in ANY of `tables` independent hyperplane families — recall rises
    * roughly as 1-(1-p^planes)^tables while each table's bucket join
    * stays an equi-join. Candidates are deduped per (query, neighbor)
    * before exact scoring, so a pair colliding in several tables is
    * scored once. `tables = 1` is the single-table form: the bucket key
    * is the packed bucket itself and the dedup never drops a row.
    *
    * Cache lifecycle: caller-owned, exactly as [[lshNearDupPairs]]
    * documents — clear or unpersist after consuming the result.
    */
  def lshTopKMulti(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      k: Int, planes: Int = 8, tables: Int = 4): DataFrame = {
    // Slim candidates: the multi-table bucket join and the per-pair
    // dedup carry only ids + bucket keys; corpus vectors re-attach by id
    // after the dedup (one equi-join against the persisted slim table),
    // query vectors by broadcast — so no embedding array rides the
    // quadratic candidate shuffle.
    val tabs = array((0 until tables).map(t =>
      lshBucketPacked(vecCol, planes, t) * lit(tables) + t): _*)
    val qTabs = array((0 until tables).map(t =>
      lshBucketPacked(qVecCol, planes, t) * lit(tables) + t): _*)
    val base = spread(corpus).select(col(idCol), col(vecCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cBand = base.select(col(idCol), explode(tabs).as("bucket"))
    val qBand = queries.select(col(qIdCol), explode(qTabs).as("qbucket"))
    val cands = cBand.join(broadcast(qBand),
        col("bucket") === col("qbucket") && col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"))
      .dropDuplicates(qIdCol, "neighbor_id")
    val scored = cands
      .join(base.select(col(idCol).as("neighbor_id"), col(vecCol)), "neighbor_id")
      .join(broadcast(queries.select(col(qIdCol), col(qVecCol))), qIdCol)
      .select(col(qIdCol), col("neighbor_id"),
        cosine(col(vecCol), col(qVecCol)).as("cosine"))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Recall@k of an ANN result against the exact ranking — the one
    * number a user tuning planes/tables/nprobe needs. Both inputs are
    * rank tables shaped like [[bruteTopK]]/[[lshTopKMulti]] output
    * (query_id, neighbor_id, rank); only rows with rank <= k count.
    * Returns one row per query in `exact`: (query_id, n_hit, n_exact,
    * recall) with recall = n_hit / n_exact, 0 for queries the ANN arm
    * missed entirely. Result-sized inputs (queries × k) — the joins
    * broadcast; nothing here touches the corpus.
    */
  def recallAtK(ann: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    def top(df: DataFrame) = df.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = top(ann).join(top(exact), Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    top(exact).groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_exact"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact")).as("recall"))
  }
}
