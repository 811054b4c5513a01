package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The production retrieval composite the compression ladder implies:
  * stack the measured tiers (binary 8 B → PQ 16 B → float 256 B) into
  * one serving plan instead of choosing one.
  *
  *   1. COARSE: popcount over 64-bit center-thresholded sign codes
  *      (binary codes' coarse-filter role; its measured recall is
  *      recorded once, on COVERAGE.md's binary-codes line) cuts the
  *      corpus to `coarseK` candidates per query.
  *   2. SHORTLIST: ADC lookup-table scoring over the candidates' PQ
  *      codes (the qs24 scorer — m table lookups per candidate, KB
  *      query-side LUTs) cuts `coarseK` to `shortK`.
  *   3. RE-RANK: fetch the float vectors of the `shortK` survivors
  *      only (an equi-join on id against the float store — the single
  *      place full-width vectors are read) and rank exactly.
  *
  * Scale shape: the scan side of stage 1 carries 8 B codes + 16 B PQ
  * codes per row (both built in ONE corpus pass — the stored serving
  * artifact), queries broadcast; no stage shuffles anything wider than
  * (query, id, code) until the final `shortK`-sized float fetch. The
  * composite's recall is ceilinged by its stage retentions — each cut
  * was measured on its own (the binary coarse cut's figure is on
  * COVERAGE.md's binary-codes line; qs24 ADC 0.8) and qs29 measures
  * the end-to-end point (0.65 at 50→20→5 on the test corpus; widening
  * shortK to coarseK recovers the stage-1 ceiling exactly, the
  * property ServingSpec pins).
  */
object Serving {

  /** Stage 1 of [[twoStageTopK]], exposed for plan pinning: the
    * popcount coarse filter as a BOUNDED per-query top-k. The scan
    * side carries (id, 8 B sign code, 16 B PQ codes) against the
    * broadcast query codes — that popcount scan is the design. What
    * must NOT happen is ranking it with a per-query window: that
    * would shuffle all N·|Q| candidate rows on the query id and sort
    * each query's FULL corpus in one task. [[graft.ops.TopK]] replaces
    * the rank — map-side combine folds each task down to ≤ coarseK
    * entries per query before the one |Q|-keyed exchange, the final
    * merge touches ≤ coarseK·P pre-sorted entries, and the plan
    * contains an ObjectHashAggregate and no Window at all (ServingSpec
    * pins both the plan shape and rank-equivalence to the window
    * form). Order inside the aggregate is (dist asc, neighbor asc) —
    * exactly the window form's key, so qs29's oracle is unchanged.
    */
  def binaryCoarseCandidates(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      thresholds: Array[Double], pq: Pq.Model, coarseK: Int): DataFrame = {
    // the stored serving artifact: one corpus pass emits both code
    // columns (24 B/row total); float vectors stay in the base table
    // and are touched again only by the stage-3 fetch
    val art = graft.ops.Partitioning.spread(corpus)
      .select(col(idCol),
        Similarity.signBits(col(vecCol), thresholds).as("bincode"),
        Pq.codes(col(vecCol), pq).as("pqcodes"))
    val qBin = queries.select(col(qIdCol),
      Similarity.signBits(col(qVecCol), thresholds).as("qbin"))
    // carrying the 16-byte pqcodes through the scan (and the bounded
    // buffers) saves stage 2 a corpus join
    val tk = graft.ops.TopK.topK(coarseK)
    art.crossJoin(broadcast(qBin))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"), col("pqcodes"),
        bit_count(col("bincode").bitwiseXOR(col("qbin"))).as("dist"))
      .groupBy(col(qIdCol))
      .agg(tk(col("dist").cast("double"), lit(0L), col("neighbor_id"),
        col("pqcodes")).as("tk"))
      .select(col(qIdCol), explode(col("tk")).as("e"))
      .select(col(qIdCol), col("e.id").as("neighbor_id"),
        col("e.pay").as("pqcodes"))
  }

  /** Stages 1-2 of [[twoStageTopK]] deployed against a STREAM of
    * queries — the qst10 deployment pattern applied to the two-stage
    * composite. `art` is the STATIC stored serving artifact
    * (idCol, `bincode` 8 B sign code, `pqcodes` 16 B PQ codes) — the
    * 24 B/row table one corpus pass emits.
    *
    * Per micro-batch: a typed map derives each query's sign code (the
    * query vector rides along for the ADC step); candidates come from
    * the stream-static scan of the code artifact — the popcount scan
    * IS stage 1, there is no key to probe by design; the coarse cut
    * is the BOUNDED top-k aggregate ([[graft.ops.TopK]]) as a
    * windowed streaming aggregate, so state is per in-flight
    * (window × query) buffers of ≤ coarseK entries — never the
    * corpus (streaming forbids rank windows anyway: the scale-safe
    * batch shape is also the only expressible one); and the ADC
    * shortlist is a STATELESS typed map over each flushed
    * (query, top-coarseK) row — the carried codes are scored with
    * LUTs derived from the query vector on the spot, in exactly
    * [[Pq.adcCosine]]'s fold order (left fold over subspaces,
    * norm-table entries folded ascending), sorted by
    * (cosine desc, id) and cut to shortK.
    *
    * The stage-3 exact re-rank is deliberately NOT in the stream:
    * full-width float fetch is the stateless edge re-ranker's job —
    * an id equi-join over shortK·|Q| FINAL rows, downstream of the
    * sink (qst12 composes it post-sink and its oracle pins the whole
    * chain against the batch composite; a second in-stream rank
    * would need a chained stateful aggregate for no state benefit —
    * the shortlist rows are already final).
    *
    * Output per flushed window: (qIdCol, shortlist array<long> in
    * (adc cosine desc, id) order).
    */
  def shortlistStream(art: DataFrame, queries: DataFrame,
      idCol: String, qIdCol: String, qVecCol: String, tsCol: String,
      thresholds: Array[Double], pq: Pq.Model, coarseK: Int, shortK: Int,
      windowDur: String = "1 hour", watermarkDelay: String = "1 hour")
      : DataFrame = {
    require(shortK <= coarseK,
      s"need shortK <= coarseK, got $shortK / $coarseK")
    val spark = art.sparkSession
    import spark.implicits._
    val bcPq = spark.sparkContext.broadcast(pq)
    val bcThr = spark.sparkContext.broadcast(thresholds)
    val probed = queries
      .select(col(qIdCol).cast("long"), col(qVecCol), col(tsCol))
      .as[(Long, Array[Float], java.sql.Timestamp)]
      .map { case (qid, qv, ts) =>
        (qid, Similarity.signBitsLocal(qv, bcThr.value), qv, ts)
      }
      .toDF(qIdCol, "qbin", "__qvec", tsCol)
    val tk = graft.ops.TopK.topK(coarseK)
    val flushed = probed.withWatermark(tsCol, watermarkDelay)
      .crossJoin(art)
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(tsCol), col("__qvec"),
        col(idCol).as("neighbor_id"), col("pqcodes"),
        bit_count(col("bincode").bitwiseXOR(col("qbin"))).as("dist"))
      .groupBy(window(col(tsCol), windowDur), col(qIdCol))
      .agg(tk(col("dist").cast("double"), lit(0L), col("neighbor_id"),
          col("pqcodes")).as("tk"),
        first(col("__qvec")).as("__qvec"))
    adcShortlistMap(flushed, qIdCol, bcPq, shortK)
  }

  /** The stateless post-flush ADC shortlist shared by both streaming
    * forms: per flushed (query, bounded top-coarseK, query vector)
    * row, score the carried 16 B codes with LUTs derived on the spot
    * — fold order identical to [[Pq.adcCosine]]'s column form — and
    * cut to shortK in (cosine desc, id) order.
    */
  private def adcShortlistMap(
      flushed: DataFrame, qIdCol: String,
      bcPq: org.apache.spark.broadcast.Broadcast[Pq.Model],
      shortK: Int): DataFrame = {
    val spark = flushed.sparkSession
    import spark.implicits._
    // normSq(j)(c) mirrors Pq.adcNormSqLit's foldLeft exactly; it is
    // query-INDEPENDENT, so it is built ONCE here (m·k doubles riding
    // the closure — the column path's adcNormSqLit treatment) instead
    // of m·k·subDim multiply-adds per flushed row
    val nsq = bcPq.value.codebooks
      .map(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))
    flushed.select(col(qIdCol), col("tk"), col("__qvec"))
      .as[(Long, Seq[graft.ops.TopKEntry], Array[Float])]
      .map { case (qid, entries, qv) =>
        val m = bcPq.value
        val (lut, _, qnsq) = Pq.adcTablesFor(qv, m)
        val scored = entries.map { e =>
          var num = 0.0; var rn = 0.0; var j = 0
          while (j < m.m) {
            val c = e.pay(j); num += lut(j)(c); rn += nsq(j)(c); j += 1
          }
          (num / (math.sqrt(rn) * math.sqrt(qnsq)), e.id)
        }
        // (cosine desc, id asc) through java.lang.Double.compare — the
        // TOTAL order Spark's own double sort uses, so a NaN cosine
        // (zero-norm query or all-zero codebook cell) ranks first here
        // exactly as it would in the batch stage-2 window, and the
        // comparator stays a strict weak ordering (a raw `>`-based
        // sortWith violates TimSort's contract once NaN mixes with
        // reals and can throw mid-micro-batch)
        val short = scored.sortWith { (a, b) =>
          val c = java.lang.Double.compare(b._1, a._1)
          c < 0 || (c == 0 && a._2 < b._2)
        }.take(shortK)
        (qid, short.map(_._2))
      }
      .toDF(qIdCol, "shortlist")
  }

  /** [[shortlistStream]]'s IVF-composed sibling — qs32's coarse tier
    * on the stream: `index` is the STATIC prebuilt 32 B/row
    * (idCol, cell, bincode, pqcodes) artifact, each micro-batch
    * expands queries into their `nprobe` probed cells (one typed
    * flatMap carrying the sign code and the query vector), and the
    * candidate lookup is a stream-static EQUI-join on cell (the
    * qst10 shape — prunable to the probed fraction, unlike the scan
    * form's per-batch full scan). The popcount rank within the
    * probed candidates is the same bounded windowed aggregate, the
    * ADC shortlist the same stateless typed map, and the exact
    * re-rank again belongs to the stateless edge downstream of the
    * sink (qst13 composes it and pins the chain against qs32's batch
    * oracle).
    */
  def shortlistStreamIvf(index: DataFrame, queries: DataFrame,
      idCol: String, qIdCol: String, qVecCol: String, tsCol: String,
      cells: Ivf.Model, thresholds: Array[Double], pq: Pq.Model,
      coarseK: Int, shortK: Int, nprobe: Int,
      windowDur: String = "1 hour", watermarkDelay: String = "1 hour")
      : DataFrame = {
    require(shortK <= coarseK,
      s"need shortK <= coarseK, got $shortK / $coarseK")
    val spark = index.sparkSession
    import spark.implicits._
    val bcPq = spark.sparkContext.broadcast(pq)
    val bcThr = spark.sparkContext.broadcast(thresholds)
    val bcCells = spark.sparkContext.broadcast(cells)
    val probed = queries
      .select(col(qIdCol).cast("long"), col(qVecCol), col(tsCol))
      .as[(Long, Array[Float], java.sql.Timestamp)]
      .flatMap { case (qid, qv, ts) =>
        val bits = Similarity.signBitsLocal(qv, bcThr.value)
        bcCells.value.nearest(qv, nprobe).map(c => (qid, c, bits, qv, ts))
      }
      .toDF(qIdCol, "cell", "qbin", "__qvec", tsCol)
    val tk = graft.ops.TopK.topK(coarseK)
    val flushed = probed.withWatermark(tsCol, watermarkDelay)
      .join(index, Seq("cell"))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(tsCol), col("__qvec"),
        col(idCol).as("neighbor_id"), col("pqcodes"),
        bit_count(col("bincode").bitwiseXOR(col("qbin"))).as("dist"))
      .groupBy(window(col(tsCol), windowDur), col(qIdCol))
      .agg(tk(col("dist").cast("double"), lit(0L), col("neighbor_id"),
          col("pqcodes")).as("tk"),
        first(col("__qvec")).as("__qvec"))
    adcShortlistMap(flushed, qIdCol, bcPq, shortK)
  }

  /** Binary-prefilter → ADC-shortlist → exact-re-rank top-k.
    *
    * @param thresholds per-dim centering thresholds
    *                   ([[Similarity.signThresholds]])
    * @param pq         PQ codebooks ([[Pq.fit]])
    * @param coarseK    stage-1 popcount candidates per query
    * @param shortK     stage-2 ADC survivors per query (<= coarseK)
    */
  def twoStageTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      thresholds: Array[Double], pq: Pq.Model,
      k: Int, coarseK: Int, shortK: Int): DataFrame = {
    require(k <= shortK && shortK <= coarseK,
      s"need k <= shortK <= coarseK, got $k / $shortK / $coarseK")
    // stage 1: one popcount per (corpus row, query), bounded top-k
    // per query via map-side-combining aggregate — never a window
    val coarse = binaryCoarseCandidates(corpus, queries,
      idCol, vecCol, qIdCol, qVecCol, thresholds, pq, coarseK)
    adcExactTail(coarse, corpus, queries,
      idCol, vecCol, qIdCol, qVecCol, pq, k, shortK)
  }

  /** [[twoStageTopK]] with the coarse tier composed INSIDE the IVF
    * probe — the judge of deployability at 100 TB: instead of a full
    * popcount scan per query batch (the qs29 form — every code read,
    * however cheap each read is), the candidates come from the
    * standard cell equi-join against the probed `nprobe` cells first
    * (the qs22-qs24 serving shape, prunable down to the probed
    * fraction under ql5's cell-partitioned lake layout), and the
    * binary tier ranks WITHIN the probed candidates through the same
    * bounded top-k aggregate. The artifact grows to 32 B/row
    * (cell + 8 B sign code + 16 B PQ codes, still ONE corpus pass);
    * stages 2-3 are shared with the scan form verbatim.
    *
    * MEASURED (qs32 vs qs29, same widths 50→20→5 on the test corpus):
    * mean recall 0.75 vs the full-scan form's 0.65 — the cell
    * prefilter is better correlated with cosine than raw Hamming, so
    * probing buys recall AND drops the per-query scan to the probed
    * fraction. The scan form remains the reference when no cell
    * model exists (e.g. before the first index build).
    */
  def twoStageTopKIvf(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      cells: Ivf.Model, thresholds: Array[Double], pq: Pq.Model,
      k: Int, coarseK: Int, shortK: Int, nprobe: Int): DataFrame = {
    // the 32 B/row artifact: cell + both code columns, one corpus pass
    // (assign spreads its input itself — no outer spread)
    val art = Ivf.assign(corpus, idCol, vecCol, cells)
      .select(col(idCol), col("cell"),
        Similarity.signBits(col(vecCol), thresholds).as("bincode"),
        Pq.codes(col(vecCol), pq).as("pqcodes"))
    twoStageTopKOnIndex(art,
      corpus.select(col(idCol), col(vecCol)), queries,
      idCol, vecCol, qIdCol, qVecCol, cells, thresholds, pq,
      k, coarseK, shortK, nprobe)
  }

  /** [[twoStageTopKIvf]] over a PREBUILT (idCol, cell, bincode,
    * pqcodes) index table — the entry point a serving system calls:
    * the index is the stored 32 B/row artifact (persisted through
    * ql5's cell-partitioned lake layout, so the probe join prunes to
    * the probed `cell=` partitions), `floats` is the base float store
    * touched only by the stage-3 fetch, and deletion composes exactly
    * as it does for the ADC form — anti-join tombstones against the
    * index BEFORE calling this (the qs30 pattern; qs33 drives the
    * whole lifecycle: build → persist → retract → serve).
    */
  def twoStageTopKOnIndex(index: DataFrame, floats: DataFrame,
      queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      cells: Ivf.Model, thresholds: Array[Double], pq: Pq.Model,
      k: Int, coarseK: Int, shortK: Int, nprobe: Int): DataFrame = {
    require(k <= shortK && shortK <= coarseK,
      s"need k <= shortK <= coarseK, got $k / $shortK / $coarseK")
    val spark = index.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cells)
    val qBin = queries.select(col(qIdCol),
      Similarity.signBits(col(qVecCol), thresholds).as("qbin"))
    val queryCells = queries
      .select(col(qIdCol).cast("long"), col(qVecCol))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        bc.value.nearest(qv, nprobe).map(c => (qid, c))
      }
      .toDF(qIdCol, "cell")
      .join(qBin, qIdCol)
    // coarse tier: popcount WITHIN the probed cells only — the
    // candidate join is the standard cell equi-join (PlanGuardSpec
    // pins no Cartesian/NLJ), the rank the same bounded aggregate
    val tk = graft.ops.TopK.topK(coarseK)
    val coarse = index.join(broadcast(queryCells), "cell")
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"), col("pqcodes"),
        bit_count(col("bincode").bitwiseXOR(col("qbin"))).as("dist"))
      .groupBy(col(qIdCol))
      .agg(tk(col("dist").cast("double"), lit(0L), col("neighbor_id"),
        col("pqcodes")).as("tk"))
      .select(col(qIdCol), explode(col("tk")).as("e"))
      .select(col(qIdCol), col("e.id").as("neighbor_id"),
        col("e.pay").as("pqcodes"))
    adcExactTail(coarse, floats, queries,
      idCol, vecCol, qIdCol, qVecCol, pq, k, shortK)
  }

  /** Stages 2-3, shared by both coarse tiers: ADC-fold the candidate
    * codes down to shortK (same scorer, same (cosine desc, id) tie
    * order as the qs24 serving plan), then the only full-width read —
    * fetch shortK float vectors per query by equi-join (AQE
    * broadcasts the shortlist side) and rank exactly. The rank
    * windows here are per-query over coarseK-bounded inputs — bounded
    * task state by construction, not by corpus size.
    */
  private def adcExactTail(coarse: DataFrame,
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      pq: Pq.Model, k: Int, shortK: Int): DataFrame = {
    val qTabs = Pq.withAdcTables(queries, qIdCol, qVecCol, pq)
      .select(col(qIdCol), col("adc_lut"), col("adc_qnsq"))
    val wShort = Window.partitionBy(col(qIdCol))
      .orderBy(col("adc_cosine").desc, col("neighbor_id"))
    val short = coarse.join(broadcast(qTabs), qIdCol)
      .select(col(qIdCol), col("neighbor_id"),
        Pq.adcCosine(col("pqcodes"), col("adc_lut"), col("adc_qnsq"), pq)
          .as("adc_cosine"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortK)
    val floats = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__nvec"))
    val qFloat = queries.select(col(qIdCol), col(qVecCol))
    val wFinal = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    short.select(col(qIdCol), col("neighbor_id"))
      .join(floats, "neighbor_id")
      .join(broadcast(qFloat), qIdCol)
      .select(col(qIdCol), col("neighbor_id"),
        Similarity.cosine(col("__nvec"), col(qVecCol)).as("cosine"))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
  }
}
