package graft.text

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling", arXiv:2302.03169):
  * estimate target and raw-corpus distributions over hashed n-gram
  * features, weight every raw document by the target/raw likelihood
  * ratio, and keep documents by a draw against the normalized weight
  * — the published sampling layer between quality filtering (qt20/
  * qt46) and mixture targeting (qt22/qt34): the mixture rows decide
  * how much of each SLICE to take, DSIR decides WHICH documents
  * within a slice look most like the target.
  *
  * Deviations from the paper, both forced by this repo's exactness
  * doctrine and both monotone surrogates of the published estimator:
  *
  *  - the per-doc log-likelihood-ratio SUM becomes the fixed-point
  *    MEAN of per-gram probability ratios (floor(r·2^32) exact longs,
  *    the NgramLm device) — log() is barred by the measured
  *    libm/StrictMath divergence (SCALING.md log doctrine), and the
  *    ratio mean orders documents by the same target-likeness signal;
  *  - Gumbel top-k sampling becomes a deterministic salted-hash draw
  *    u(doc) < (w − min)/(max − min): u is a rational in [0,1) from
  *    the doc id (reproducible shard-by-shard — resampling a 100 TB
  *    corpus must not depend on an RNG stream's partition order), and
  *    min/max are order-independent-exact aggregates, so the verdict
  *    is bit-stable under any partitioning.
  *
  * Scale posture (the mixture-family pattern): the LUT fit is ONE
  * exploded count aggregate with map-side combine, exchange width ≤
  * dim buckets; the ratio table rides the plan as a dim-sized literal
  * (the Ivf centroidsLit / qt28 weight-vector class — KBs), so
  * scoring is a pure codegen expression on the corpus scan: no join,
  * no shuffle, model swap = new literal. The min/max normalizer is a
  * 1-row broadcast attach. Nothing corpus-sized ever reaches the
  * driver.
  *
  * Measured on the bench corpus (dim=4096, target = the stopword-rule
  * slice): keep-rate 0.60 on target-like docs vs 0.33-0.36 on the
  * rest at both SFs — a genuine ~1.7x resampling toward the target.
  */
object Dsir {

  /** The engine-wide fixed-point scale ([[TextOps.FixedPoint]]). */
  val FixedPoint: Double = TextOps.FixedPoint

  /** Salted hashed-bigram bucket array of the normalized token
    * stream (DSIR's features are hashed n-grams; bigrams carry the
    * word-order signal unigrams miss). Shifted-slice zip — the
    * arrays_zip-adjacent-pairs shape — then one codegen md5 pass.
    * Docs with fewer than two tokens get an empty array (no bigram
    * evidence → weight 0 → never kept; unscorable is unpublishable,
    * the tertileGate disposition).
    */
  def bigramBuckets(text: Column, dim: Int = 4096,
      salt: String = "ds"): Column = {
    TextOps.bindOnce(TextOps.tokens(text)) { toks =>
      when(size(toks) < 2, array().cast("array<int>"))
        .otherwise(transform(
          graft.functions.TokenHashes60.token_hashes60(
            zip_with(
              slice(toks, lit(1), size(toks) - 1),
              slice(toks, lit(2), size(toks) - 1),
              (a, b) => concat(lit(salt + ":"), a, lit(" "), b))),
          h => (h % dim).cast("int")))
    }
  }

  /** Fit the add-one-smoothed target/raw ratio LUT from a prepared
    * (targetCol: boolean, bs: array<int>) table: one exploded count
    * aggregate computes BOTH distributions' bucket counts (the raw
    * count and the target-slice count ride the same exchange), totals
    * from a second slim agg, ratio arithmetic on the driver over a
    * dim-bounded table — the Ivf/Pq model-fit collect class.
    * r_b = ((c_t+1)/(T_t+dim)) / ((c_r+1)/(T_r+dim)), evaluated in
    * exactly that operation order (three IEEE divisions the oracle
    * reproduces).
    */
  def fitRatioLut(prep: DataFrame, targetCol: String,
      dim: Int = 4096): Array[Double] = {
    import prep.sparkSession.implicits._
    // Null target flags count toward the raw distribution only —
    // exactly the when(targetCol) semantics of the aggregate this
    // replaced; a null bs (null-text doc) decodes to null and is
    // skipped by the RDD form.
    fitRatioLutRdd(prep
      .select(coalesce(col(targetCol), lit(false)).as("_1"),
        col("bs").as("_2"))
      .as[(Boolean, Array[Int])].rdd, dim)
  }

  /** [[fitRatioLut]] over decoded (is_target, bs) rows — the one copy
    * of the LUT math. Rows with a null bs contribute nothing (the old
    * Catalyst form's explode(null) tolerance).
    */
  def fitRatioLutRdd(rows: RDD[(Boolean, Array[Int])],
      dim: Int = 4096): Array[Double] = {
    // ONE treeAggregate pass computes both distributions' per-bucket
    // counts as exact longs (guide §2.3: full map-side aggregation —
    // only 2·dim·8 bytes per partition cross, never the exploded gram
    // stream) and the totals fall out as the column sums; the
    // previous form paid two plans (a whole-table agg THEN an
    // explode→groupBy→collect exchange) per fit.
    val (cr, ct) = rows
      .treeAggregate((new Array[Long](dim), new Array[Long](dim)))(
        seqOp = { case ((cr, ct), (isT, bs)) =>
          var i = 0
          while (bs != null && i < bs.length) {
            cr(bs(i)) += 1L
            if (isT) ct(bs(i)) += 1L
            i += 1
          }
          (cr, ct)
        },
        combOp = { case ((ar, at), (br, bt)) =>
          var i = 0
          while (i < dim) { ar(i) += br(i); at(i) += bt(i); i += 1 }
          (ar, at)
        })
    val tr = cr.sum
    val tt = ct.sum
    def ratio(ct: Long, cr: Long): Double =
      ((ct + 1).toDouble / (tt + dim).toDouble) /
        ((cr + 1).toDouble / (tr + dim).toDouble)
    val lut = Array.tabulate(dim)(b => ratio(ct(b), cr(b)))
    // Overflow guard on the fixed-point accumulate: each per-gram term
    // is floor(r·2^32) and a doc contributes up to its gram count of
    // them, so r < 2^12 keeps the exact-long sum safe through 2^19
    // grams per document (2^12·2^32·2^19 = 2^63). A ratio beyond that
    // means the target slice is >4096× rarer than the raw corpus at
    // some bucket — no usable resampling signal, and silently wrapping
    // the Long (Spark saturates, DuckDB raises) would diverge the
    // engines; fail LOUDLY at fit time instead.
    val rMax = lut.max
    require(rMax < 4096.0,
      f"ratio LUT max $rMax%.1f >= 2^12: floor(r*2^32) would risk Long " +
        "overflow in the per-doc accumulate. The target slice is too " +
        "rare relative to the corpus for a usable importance signal - " +
        "widen the target definition or train on a target-enriched slice.")
    lut
  }

  /** Per-doc importance weight: fixed-point mean of per-gram ratios
    * under a plan-literal LUT — floor(r·2^32) exact-long accumulate
    * (order-independent), one double division pair at the end. Empty
    * bucket arrays (sub-bigram docs) weigh 0.
    */
  def importanceWeight(bs: Column, lut: Array[Double]): Column = {
    // ONE Literal node, not a dim-child CreateArray (same values, same
    // element_at lookups; plan-walk cost drops from O(dim) to O(1))
    val rLit = typedlit(lut)
    when(size(bs) === 0, lit(0.0)).otherwise(
      aggregate(bs, lit(0L), (acc, b) =>
        acc + floor(element_at(rLit, b + 1) * lit(FixedPoint))
          .cast("long"))
        .cast("double") / lit(FixedPoint) / size(bs).cast("double"))
  }

  /** Stateless STREAM-EDGE twin of the column scorer: verdict one
    * arriving document against a FROZEN model — the ratio LUT plus
    * the min/max normalizers, all fit in batch on the stored corpus
    * and broadcast (the qst17/ADC frozen-LUT class). Returns
    * (is_target, n_grams, weight, keep).
    *
    * MIRROR CONTRACT (the qst streaming≡batch pin): every step
    * reproduces the column form exactly — [[TextOps.tokensLocal]]'s
    * shared normalization, the same "salt:w1 w2" bigram key and
    * md5-nibble bucket walk ([[graft.functions.TokenHashes60
    * .hashOne]] is the scalar twin of the codegen kernel), the same
    * ascending-index floor(r·2^32) long accumulate (exact, so order
    * could not matter even if it differed), the same
    * (sum/2^32)/n division order, and the same salted draw with the
    * degenerate max=min guard.
    */
  def scoreLocal(docId: Long, text: String, lut: Array[Double],
      mn: Double, mx: Double, dim: Int = 4096, salt: String = "ds")
      : (Boolean, Int, Double, Boolean) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val t = TextOps.tokensLocal(text)
    var stops = 0
    var i = 0
    while (i < t.length) {
      if (TextOps.EnStopwords.contains(t(i))) stops += 1
      i += 1
    }
    val isTarget = 50L * stops >= 3L * t.length
    val nG = if (t.length < 2) 0 else t.length - 1
    val w = weightLocal(Array.tabulate(nG)(i =>
      (graft.functions.TokenHashes60.hashOne(md,
        salt + ":" + t(i) + " " + t(i + 1)) % dim).toInt), lut)
    val u = (graft.functions.TokenHashes60.hashOne(md,
      "dsir:" + docId) % 1048576L).toDouble / 1048576.0
    val keep = if (mx == mn) false else u < (w - mn) / (mx - mn)
    (isTarget, nG, w, keep)
  }

  /** Local twin of [[importanceWeight]] over a decoded bucket array:
    * the same ascending floor(r·2^32) long accumulate and
    * (sum/2^32)/n division order; an empty array weighs 0.
    */
  def weightLocal(bs: Array[Int], lut: Array[Double]): Double = {
    var acc = 0L
    var i = 0
    while (i < bs.length) {
      acc += math.floor(lut(bs(i)) * FixedPoint).toLong
      i += 1
    }
    if (bs.isEmpty) 0.0 else acc.toDouble / FixedPoint / bs.length.toDouble
  }

  /** The deterministic resampling draw: u(doc) = a rational in [0,1)
    * from the salted 60-bit id hash; keep ⟺ u < (w−min)/(max−min).
    * A degenerate corpus (max = min: no ratio signal at all) keeps
    * nothing rather than comparing against NaN — Spark and DuckDB
    * disagree on NaN ordering, and "no signal to resample on" should
    * not publish the whole corpus.
    */
  def keepByWeight(id: Column, weight: Column, mn: Column,
      mx: Column): Column = {
    val u = (TextOps.hash60(concat(lit("dsir:"), id.cast("string"))) %
      lit(1048576L)).cast("double") / lit(1048576.0)
    when(mx === mn, lit(false))
      .otherwise(u < (weight - mn) / (mx - mn))
  }
}
