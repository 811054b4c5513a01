package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The frozen artifacts of the crawl-edge admission stream (qst23),
  * fit from ONE shared per-doc feature pass over the stored corpus.
  *
  * One Catalyst projection over the spread corpus computes every
  * per-doc input a fit reads, with the batch rows' own column
  * expressions: [[Classifier.prepareQuality]]'s y/n/bs, the eval
  * split's 8-gram hashes, [[Dsir.bigramBuckets]] of the doc_id % 5
  * sample, [[TextOps.norm]] of the LM training slice's text2
  * (doc_id % 5) and the raw text2 of the threshold sample (doc_id % 3).
  * It is decoded once into a persisted RDD of [[DocFeatures]], and
  * each artifact is a fold over that RDD, run in sequence on the
  * caller's thread — no fit re-reads or re-tokenizes the corpus, and
  * none plans its own Catalyst chain.
  *
  * Every artifact equals the per-fit chains it replaces bit for bit
  * (AdmissionFitSpec pins each one): the folds call the one copy of
  * each fit's math ([[Classifier.trainQualityRdd]],
  * [[Dsir.fitRatioLutRdd]], [[Mixture.temperatureTargetsOf]]) or a
  * spec-pinned edge twin ([[NgramLm.trainLocal]],
  * [[NgramLm.tertileThresholdsLocal]] over [[NgramLm.scoreLocal]]).
  * A null-text doc counts toward its stratum size only, as in the
  * per-fit chains.
  */
object AdmissionFit {

  /** Everything the admission stream freezes: the eval split's sorted
    * distinct 8-gram hashes, the LM and its per-lang (t1, t2) tertile
    * thresholds, the classifier weights, the DSIR ratio LUT with its
    * weight (min, max) normalizer, and the α = 1/2 mixture targets.
    */
  final case class Artifacts(
      evalGrams: Array[Long],
      lm: NgramLm.LocalModel,
      lmThresholds: Map[String, (Double, Double)],
      w: Array[Double],
      lut: Array[Double],
      mn: Double,
      mx: Double,
      targets: Seq[(String, Long, Double, Long)])

  /** One doc's fit inputs. A null array or string marks a doc outside
    * that fit's slice; bs is also null for a null-text doc.
    */
  final case class DocFeatures(
      docId: Long,
      lang: String,
      y: Int,
      n: Int,
      bs: Array[Int],
      evalGrams: Array[Long],
      dsirBs: Array[Int],
      lmNorm: String,
      thText2: String)

  /** Fit every artifact from `docs(doc_id, lang, text)`; `text2` is the
    * LM's text column as an expression over doc_id and text.
    */
  def fit(docs: DataFrame, text2: Column): Artifacts = {
    val s = docs.sparkSession
    import s.implicits._
    val feats = Classifier.prepareQuality(
        graft.ops.Partitioning.spread(docs.select(col("doc_id"),
          col("lang"), col("text"), text2.as("text2"))),
        "text", "doc_id", carry = Seq("lang", "text", "text2"))
      .select(col("doc_id").as("docId"),
        col("lang").cast("string").as("lang"), col("y"),
        // n is null exactly when bs is (a null-text doc); bs == null
        // is what the classifier fit skips on
        coalesce(col("n"), lit(0)).as("n"), col("bs"),
        when(TextOps.hashSplit(col("doc_id"), Seq(90),
            Seq("train", "eval")) === "eval",
          graft.functions.WordNgramHashes.word_ngram_hashes(col("text"), 8))
          .as("evalGrams"),
        when(col("doc_id") % 5 === 0, Dsir.bigramBuckets(col("text")))
          .as("dsirBs"),
        when(col("doc_id") % 5 === 0, TextOps.norm(col("text2")))
          .as("lmNorm"),
        when(col("doc_id") % 3 === 0, col("text2")).as("thText2"))
      .as[DocFeatures].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // decontamination: benchmark-bounded, so collected (per-partition
      // deduplicated first) and probed by binary search at the edge
      val evalGrams = sortedDistinct(feats.mapPartitions { it =>
        Iterator(sortedDistinct(it.flatMap(d =>
          if (d.evalGrams == null) Iterator.empty
          else d.evalGrams.iterator).toArray))
      }.collect().flatten)
      // mixture: one count per stratum, every doc included
      val targets = Mixture.temperatureTargetsOf(
        feats.map(_.lang).countByValue().toSeq)
      // DSIR: the doc_id % 5 sample; the classifier label is DSIR's
      // target flag (the same stopwordLabel over the same tokens)
      val dsir = feats.flatMap(d =>
        if (d.dsirBs == null) None else Some((d.y == 1, d.dsirBs)))
      val lut = Dsir.fitRatioLutRdd(dsir)
      val (mn, mx) = dsir.map(r => Dsir.weightLocal(r._2, lut))
        .aggregate((Double.PositiveInfinity, Double.NegativeInfinity))(
          (a, w) => (math.min(a._1, w), math.max(a._2, w)),
          (a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
      require(mn <= mx, "no DSIR sample docs (doc_id % 5 = 0)")
      val w = Classifier.trainQualityRdd(feats.map(d => (d.y, d.n, d.bs)))
      // LM: the doc_id % 5 slice, then the % 3 sample scored against
      // the fresh model for its tertile thresholds
      val lm = NgramLm.trainLocal(feats.flatMap(d =>
        if (d.lmNorm == null) None else Some((d.lang, d.lmNorm))))
      val bcLm = s.sparkContext.broadcast(lm)
      val scored = try feats.flatMap(d =>
          if (d.thText2 == null) None
          else NgramLm.scoreLocal(d.thText2, d.lang, bcLm.value)
            .map { case (_, sc) => (d.docId, d.lang, sc) })
        .collect()
      finally bcLm.destroy()
      Artifacts(evalGrams, lm, NgramLm.tertileThresholdsLocal(scored.toSeq),
        w, lut, mn, mx, targets)
    } finally feats.unpersist()
  }

  /** Sort in place and drop adjacent repeats. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var k = 0
    var i = 0
    while (i < a.length) {
      if (k == 0 || a(i) != a(k - 1)) { a(k) = a(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, k)
  }
}
