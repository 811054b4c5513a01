package graft.text

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** In-engine n-gram language-model quality scoring — the CCNet
  * treatment (Wenzek et al. 2020, arXiv:1911.00359): train a small LM
  * per language on a trusted target slice OF THE CORPUS BEING CURATED,
  * score every document by how predictable its text is under that
  * model, and gate on per-language score tertiles (head / middle /
  * tail — CCNet's actual bucketing). The model is Brants et al.
  * 2007's Stupid Backoff (arXiv: "Large Language Models in Machine
  * Translation") — THE published distributed n-gram LM: raw count
  * ratios with a fixed 0.4 backoff penalty, no discounting, no
  * normalization, chosen by Brants precisely because it trains as
  * pure MapReduce-style counting. Trigram order, the CCNet default
  * class.
  *
  * Scale shape (the point at 100 TB): training is three exploded
  * integer COUNT aggregates over the target slice (map-side partial
  * aggregation; exchange width = distinct grams, Zipf-bounded) plus
  * two model-sized joins to pre-divide the backoff ratios — the model
  * ships as (gram -> ratio) tables, minCount-pruned exactly like
  * production LM builds. Scoring is one pass over the corpus: the
  * shifted-context gram stream is built with slice/arrays_zip (pure
  * codegen, no self-join on position), left-joined against the three
  * model tables (broadcast when the pruned model fits — the common
  * case; a gram-keyed shuffle join otherwise), and folded per
  * document in POSITION order. Nothing corpus-sized is ever held; the
  * per-round iteration of a neural scorer is exactly what this
  * replaces at curation time.
  *
  * Determinism (the QueryDef contract): Stupid Backoff is log-free BY
  * CONSTRUCTION — every per-token score is a ratio of exact integer
  * counts times a power of the literal 0.4, so each is bit-identical
  * in any IEEE engine (the [[Bm25]] doctrine; this is also why Brants'
  * form is preferred here over Kneser-Ney, whose discounts are
  * corpus-tuned floats). The per-document aggregate is the MEAN
  * per-token score accumulated in FIXED POINT: each score (all in
  * [0, 1]) is floored onto the 2^-32 grid and summed as an exact
  * long, making the distributed sum ORDER-INDEPENDENT — it rides
  * map-side partial aggregation, AQE re-plans, and any partitioning,
  * where the usual position-ordered double fold would force a
  * per-document array materialization (collect_list →
  * ObjectHashAggregate, no partial combine) just to pin the
  * accumulation order. Cost: per-token quantization error < 2^-32,
  * so the doc mean is within 2^-32 of the real-arithmetic value —
  * far below any gate threshold's resolution. Production perplexity
  * is `exp(-mean log S)`; mean-S ranks predictability the same
  * direction, and the log/exp pair is deliberately NOT taken in the
  * oracled value path: Spark's `log` is StrictMath/fdlibm while
  * DuckDB's `ln` is the platform libm, and they disagree at the ulp
  * on ~7% of rationals (measured on this box: 147,974 of 2M random
  * count ratios; even integer inputs disagree — ln(3) differs, 488
  * of the first 20M integers). A monotone per-token transform cannot
  * rescue the DOC-level ranking equivalence (mean-of-S and
  * mean-of-log-S order docs differently), so the engine and the gate
  * both ship the log-free score, and a production deployment that
  * wants true perplexity swaps the per-token element — same counts,
  * same joins, same plan.
  *
  * OOV handling: the unigram floor is add-one smoothed,
  * (c1 + 1) / (N + V) — Stupid Backoff's raw c1/N would assign an
  * absorbing 0 that erases the rest of the document's signal under a
  * mean. V is the trained vocabulary size, N the trained token count,
  * per language.
  *
  * Reference basis: none — the reference has no quality-model
  * surface; north-star training-data-pipeline capability (the same
  * family as [[Vocab]]'s dictionary filter and
  * [[TextOps.hashedClassifierScore]]'s trained-classifier serving
  * shape; this adds the train-IN-ENGINE half that qt39 added for the
  * tokenizer).
  */
object NgramLm {

  /** Backoff penalty — Brants et al.'s recommended 0.4, a plan
    * literal on both engine and oracle sides.
    */
  val Alpha = 0.4

  /** Per-language Stupid Backoff model: `uni(lang, w0, c1)`,
    * `bi(lang, w1, w0, s2 = c2/c1(w1))`,
    * `tri(lang, w2, w1, w0, s3 = c3/c2(w2 w1))`,
    * `langStats(lang, n_tot, v_sz)`. Ratio tables are minCount-pruned
    * (the denominators use RAW counts — a kept gram's parent count is
    * always >= its own, so pruning never orphans a numerator).
    */
  final case class Model(uni: DataFrame, bi: DataFrame, tri: DataFrame,
      langStats: DataFrame)

  /** Train a per-`langCol` Stupid Backoff trigram model over
    * `target(textCol)`. The tokenized slice and the raw count tables
    * feed 2-3 consumers each, so they are persisted (MEMORY_AND_DISK)
    * — the multiply-consumed-subtree rule; the bench harness's
    * per-query clearCache owns the release, a long-lived caller
    * unpersists via the returned frames' lineage.
    */
  def train(target: DataFrame, textCol: String, langCol: String,
      minCount: Int = 2): Model = {
    require(minCount >= 1, "minCount must be >= 1")
    val tok = target
      .select(col(langCol).as("lang"), TextOps.norm(col(textCol)).as("n"))
      .filter(col("n") =!= "")
      .select(col("lang"), split(col("n"), " ").as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val uni = tok.select(col("lang"), explode(col("t")).as("w0"))
      .groupBy(col("lang"), col("w0"))
      .agg(count(lit(1)).as("c1"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // adjacent pairs/triples via arrays_zip over shifted slices — the
    // BpeTrain lesson: plain codegen end to end (transform/struct HOFs
    // here would be CodegenFallback on the corpus-sized stream)
    val bi = tok.filter(size(col("t")) > 1)
      .select(col("lang"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1))).as("p"))
      .select(col("lang"), col("p.0").as("w1"), col("p.1").as("w0"))
      .groupBy(col("lang"), col("w1"), col("w0"))
      .agg(count(lit(1)).as("c2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tri = tok.filter(size(col("t")) > 2)
      .select(col("lang"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 2),
        slice(col("t"), lit(2), size(col("t")) - 2),
        slice(col("t"), lit(3), size(col("t")) - 2))).as("p"))
      .select(col("lang"), col("p.0").as("w2"), col("p.1").as("w1"),
        col("p.2").as("w0"))
      .groupBy(col("lang"), col("w2"), col("w1"), col("w0"))
      .agg(count(lit(1)).as("c3"))
    val langStats = uni.groupBy(col("lang"))
      .agg(sum(col("c1")).as("n_tot"), count(lit(1)).as("v_sz"))
    val biM = bi.filter(col("c2") >= minCount)
      .join(uni.select(col("lang"), col("w0").as("w1"), col("c1")),
        Seq("lang", "w1"))
      .select(col("lang"), col("w1"), col("w0"),
        (col("c2").cast("double") / col("c1").cast("double")).as("s2"))
    val triM = tri.filter(col("c3") >= minCount)
      .join(bi.select(col("lang"), col("w1").as("w2"), col("w0").as("w1"),
          col("c2")),
        Seq("lang", "w2", "w1"))
      .select(col("lang"), col("w2"), col("w1"), col("w0"),
        (col("c3").cast("double") / col("c2").cast("double")).as("s3"))
    Model(uni, biM, triM, langStats)
  }

  /** Score every document of `docs(idCol, langCol, textCol)` against
    * its language's model: (doc_id, lang, n_tok, lm_score) where
    * lm_score = mean Stupid-Backoff score over token positions,
    * folded in position order. Documents whose language has no model
    * are dropped (inner langStats join) — score only what the model
    * covers, the CCNet per-language contract. Model tables arrive
    * broadcast: the pruned model is vocab-bounded; a corpus whose
    * model outgrows the broadcast threshold falls back to gram-keyed
    * shuffle joins by removing the hints.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, model: Model): DataFrame = {
    val nul = lit(null).cast("string")
    val base = docs
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        TextOps.norm(col(textCol)).as("n"))
      .filter(col("n") =!= "")
      .select(col("doc_id"), col("lang"), split(col("n"), " ").as("t"))
    // shifted-context stream: w1/w2 arrive by PREPENDING nulls and
    // truncating to |t| — no conditionals, no position self-join
    val grams = base
      .withColumn("p1",
        slice(concat(array(nul), col("t")), lit(1), size(col("t"))))
      .withColumn("p2",
        slice(concat(array(nul, nul), col("t")), lit(1), size(col("t"))))
      .select(col("doc_id"), col("lang"), size(col("t")).as("n_tok"),
        posexplode(arrays_zip(col("t"), col("p1"), col("p2"))))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("pos"),
        col("col.t").as("w0"), col("col.p1").as("w1"),
        col("col.p2").as("w2"))
    val s1 = (coalesce(col("c1"), lit(0L)) + lit(1L)).cast("double") /
      (col("n_tot") + col("v_sz")).cast("double")
    val a = lit(Alpha)
    val scored = grams
      .join(broadcast(model.langStats), Seq("lang"))
      .join(broadcast(model.uni), Seq("lang", "w0"), "left")
      .join(broadcast(model.bi), Seq("lang", "w1", "w0"), "left")
      .join(broadcast(model.tri), Seq("lang", "w2", "w1", "w0"), "left")
      .select(col("doc_id"), col("lang"), col("n_tok"), col("pos"),
        when(col("pos") >= 2,
            coalesce(col("s3"), a * col("s2"), a * a * s1))
          .when(col("pos") === 1, coalesce(col("s2"), a * s1))
          .otherwise(s1).as("s"))
    // fixed-point accumulate: floor(s * 2^32) is an exact long (s in
    // [0,1] -> products bounded by n_tok * 2^32, no overflow until
    // ~2^31 tokens per doc), summed with full map-side combine
    scored
      .groupBy(col("doc_id"), col("lang"), col("n_tok"))
      .agg(sum(floor(col("s") * lit(TextOps.FixedPoint))).as("s_fp"))
      .select(col("doc_id"), col("lang"), col("n_tok").cast("int").as("n_tok"),
        ((col("s_fp").cast("double") / lit(TextOps.FixedPoint)) /
          col("n_tok").cast("double")).as("lm_score"))
  }

  /** Driver-side model for the STREAM-EDGE serving shape, built by
    * [[trainLocal]]: the pruned per-language tables as plain maps —
    * the ADC-LUT class (vocab-bounded after the minCount prune;
    * KBs-to-MBs, broadcast once, never corpus-sized). Keys are gram
    * tokens joined by ' ' —
    * tokens come from split-on-space, so a space cannot occur INSIDE
    * a token and the key is unambiguous. (The previous U+0001 joiner
    * was wrong twice over: norm() collapses only \s+, so a control
    * byte CAN survive inside a token and distinct grams could collide
    * in the toMap — silently breaking the stream≡batch mirror — and
    * the raw byte made git treat this file as binary. NgramLmSpec
    * pins the collision case.)
    */
  final case class LocalModel(
      uni: Map[(String, String), Long],
      bi: Map[(String, String), Double],
      tri: Map[(String, String), Double],
      stats: Map[String, (Long, Long)]) extends Serializable

  private def gk(parts: String*): String = parts.mkString(" ")

  /** [[train]]'s edge twin: the same per-language Stupid Backoff model
    * counted straight into a [[LocalModel]], with no Catalyst plan.
    * Input rows are (lang, norm(text)) — [[TextOps.norm]] applied by
    * the caller's projection, so the normalization is the batch
    * expression itself; null or empty normalized texts are skipped
    * (train's `n != ''` filter). One keyed count pass: every uni-, bi-
    * and trigram occurrence is one exact-long count, combined
    * map-side; unigrams all ship (the add-one floor and the per-lang
    * N, V read every one), bi- and trigrams only at count ≥ minCount.
    * That prune is exact for the ratio denominators too: a trigram
    * occurrence contains its prefix bigram's, so c2(w2 w1) ≥ c3 and
    * every kept trigram's RAW prefix count is a kept bigram count,
    * exactly as every bigram's raw c1(w1) is a unigram count. Ratios
    * are the same single IEEE division c_k.toDouble / c_(k-1).toDouble
    * train's column form evaluates, so the maps equal the collected
    * train tables bit for bit (NgramLmSpec pins it).
    */
  def trainLocal(normed: RDD[(String, String)], minCount: Int = 2)
      : LocalModel = {
    require(minCount >= 1, "minCount must be >= 1")
    // key: (order, lang, gram key); tokens never contain ' ', so the
    // ' '-joined gram key is unambiguous (the LocalModel contract)
    val counts = normed
      .flatMap { case (lang, n) =>
        if (n == null || n.isEmpty) Iterator.empty
        else {
          val t = n.split(" ", -1)
          t.indices.iterator.flatMap { i =>
            Iterator(((1, lang, t(i)), 1L)) ++
              (if (i >= 1) Iterator(((2, lang, gk(t(i - 1), t(i))), 1L))
                else Iterator.empty) ++
              (if (i >= 2) Iterator(((3, lang, gk(t(i - 2), t(i - 1), t(i))), 1L))
                else Iterator.empty)
          }
        }
      }
      .reduceByKey(_ + _)
      .filter { case ((order, _, _), c) => order == 1 || c >= minCount }
      .collect()
    def level(k: Int): Map[(String, String), Long] = counts.iterator
      .collect { case ((`k`, lang, key), c) => (lang, key) -> c }.toMap
    val uni = level(1)
    val bi2 = level(2)
    // the inner joins of train: a ratio needs its parent's raw count
    def ratios(m: Map[(String, String), Long],
        parent: Map[(String, String), Long]): Map[(String, String), Double] =
      m.flatMap { case ((lang, key), c) =>
        parent.get((lang, key.substring(0, key.lastIndexOf(' '))))
          .map(cp => (lang, key) -> c.toDouble / cp.toDouble)
      }
    val stats = uni.groupBy(_._1._1).map { case (lang, g) =>
      lang -> ((g.valuesIterator.sum, g.size.toLong))
    }
    LocalModel(uni, ratios(bi2, uni), ratios(level(3), bi2), stats)
  }

  /** Per-document score against a [[LocalModel]] — the stateless
    * stream-edge twin of [[score]]'s join form, for scoring documents
    * AS THEY ARRIVE with a frozen broadcast LUT (no shuffle, no
    * state). Returns None when the document's language has no model
    * or the text normalizes to empty (the rows [[score]] drops).
    * Gram keys join tokens with ' ' — whitespace-tokenized tokens
    * cannot contain it, so the key is unambiguous.
    *
    * MIRROR CONTRACT (the qst streaming≡batch pin): every arithmetic
    * step reproduces the column form exactly — same normalization
    * (lower/trim/ws-collapse, the TextOps.norm spec), same backoff
    * ladder with the same left-associated 0.4 products, same add-one
    * floor, same floor(s * 2^32) fixed-point accumulate (exact longs,
    * so the sum order cannot matter even here).
    */
  def scoreLocal(text: String, lang: String, m: LocalModel):
      Option[(Int, Double)] = {
    // score drops these rows: its norm filter and its lang join
    if (text == null || lang == null) None
    else m.stats.get(lang).flatMap { case (nTot, vSz) =>
      // TextOps.normLocal mirrors TextOps.norm exactly (operation
      // order, trim semantics, locale) — the shared local-normalizer
      // contract of every stream-edge scorer
      val n = TextOps.normLocal(text)
      if (n.isEmpty) None
      else {
        val t = n.split(" ", -1)
        val denom = (nTot + vSz).toDouble
        def s1(w: String): Double =
          (m.uni.getOrElse((lang, w), 0L) + 1L).toDouble / denom
        var acc = 0L
        var i = 0
        while (i < t.length) {
          val s =
            if (i >= 2) {
              m.tri.get((lang, gk(t(i - 2), t(i - 1), t(i)))).getOrElse(
                m.bi.get((lang, gk(t(i - 1), t(i))))
                  .map(Alpha * _)
                  .getOrElse(Alpha * Alpha * s1(t(i))))
            } else if (i == 1) {
              m.bi.get((lang, gk(t(0), t(1)))).getOrElse(Alpha * s1(t(1)))
            } else s1(t(0))
          acc += math.floor(s * TextOps.FixedPoint).toLong
          i += 1
        }
        Some((t.length,
          acc.toDouble / TextOps.FixedPoint / t.length.toDouble))
      }
    }
  }

  /** CCNet's head/middle/tail gate: per-language score tertiles,
    * thresholds taken as exact order statistics of a deterministic
    * id-hash SAMPLE (CCNet computes its perplexity cutoffs on a
    * sample, not the corpus — and that is also what keeps the only
    * sort here sample-sized and slim: (lang, score, id) rows;
    * production swaps approx_percentile at the same place). bucket =
    * head above the upper tertile, tail at or below the lower;
    * keep = not tail (the CCNet default of training on head+middle).
    * Strict `>` against an exact sampled element makes boundary ties
    * land identically in any engine.
    */
  /** The per-language tertile thresholds alone — the FROZEN artifact a
    * crawl edge deploys next to the collected model: (lang, t1, t2)
    * from the doc_id % sampleMod score sample. [[tertileGate]] is this
    * table joined back to every score; a streaming admission gate
    * (qst23) fits the same thresholds with [[tertileThresholdsLocal]]
    * and verdicts arrivals against them.
    */
  def tertileThresholds(scores: DataFrame, sampleMod: Long = 3): DataFrame = {
    val smp = scores.filter(col("doc_id") % sampleMod === 0)
      .select(col("lang"), col("lm_score"), col("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lm_score"), col("doc_id"))
    val rk = smp.withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("lang"))))
    rk.groupBy(col("lang")).agg(
      max(when(col("rn") ===
          ceil(col("m").cast("double") / lit(3.0)).cast("long"),
        col("lm_score"))).as("t1"),
      max(when(col("rn") ===
          ceil(lit(2.0) * col("m").cast("double") / lit(3.0)).cast("long"),
        col("lm_score"))).as("t2"))
  }

  /** [[tertileThresholds]]' edge twin over locally scored
    * (doc_id, lang, lm_score) rows, e.g. [[scoreLocal]]'s: the same
    * doc_id % sampleMod sample, the same per-language (lm_score,
    * doc_id) order — doubles compared as Spark's sort does, equal
    * values tied — and the same ranks ⌈m/3⌉ and ⌈2m/3⌉ computed in
    * double. Returns lang -> (t1, t2), equal to the collected table's
    * rows bit for bit (NgramLmSpec pins it). The sample is collected
    * to the driver, so it must stay driver-sized.
    */
  def tertileThresholdsLocal(scores: Seq[(Long, String, Double)],
      sampleMod: Long = 3): Map[String, (Double, Double)] = {
    val bySparkOrder: Ordering[(Double, Long)] = (a, b) => {
      val c = if (a._1 == b._1) 0 else java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
    scores.filter(_._1 % sampleMod == 0).groupBy(_._2).map {
      case (lang, rows) =>
        val sorted = rows.map(r => (r._3, r._1)).sorted(bySparkOrder)
        val m = sorted.length.toDouble
        def at(rank: Double): Double = sorted(rank.toLong.toInt - 1)._1
        lang -> ((at(math.ceil(m / 3.0)), at(math.ceil(2.0 * m / 3.0))))
    }
  }

  def tertileGate(scores: DataFrame, sampleMod: Long = 3): DataFrame = {
    // threshold attach is a LEFT join with a documented default: a
    // language with zero docs in the id-sample gets bucket='tail',
    // keep=false (the conservative CCNet disposition — unsampled means
    // un-calibrated, not publishable) instead of silently vanishing
    // from the output the way an inner join would drop it.
    val th = tertileThresholds(scores, sampleMod)
    scores.join(broadcast(th), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("lm_score"),
        when(col("t2").isNotNull && col("lm_score") > col("t2"),
          lit("head"))
          .when(col("t1").isNotNull && col("lm_score") > col("t1"),
            lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        coalesce(col("lm_score") > col("t1"), lit(false)).as("keep"))
  }
}
