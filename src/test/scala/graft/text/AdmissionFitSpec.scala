package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkTestBase

/** Pins [[AdmissionFit]]'s shared-pass artifacts to the per-fit chains
  * the admission stream (qst23) ran before them — each fit its own
  * Catalyst chain over the corpus, through the DataFrame forms of the
  * library fits — bit for bit: the eval gram array, the LM maps, the
  * tertile thresholds, the classifier weights, the DSIR LUT and its
  * (mn, mx), and the mixture targets.
  */
class AdmissionFitSpec extends SparkTestBase {

  import spark.implicits._

  private def text2: Column = concat(col("text"),
    when(col("doc_id") % 31 === 17,
      concat(lit(" zq"), (col("doc_id") % 50).cast("string")))
      .otherwise(lit("")))

  private def bits(xs: Array[Double]): Seq[Long] =
    xs.toSeq.map(java.lang.Double.doubleToLongBits)

  private def assertMatchesChains(docs: DataFrame): Unit = {
    val got = AdmissionFit.fit(docs, text2)
    val evalWant = docs
      .filter(TextOps.hashSplit(col("doc_id"), Seq(90),
        Seq("train", "eval")) === "eval")
      .select(explode(graft.functions.WordNgramHashes
        .word_ngram_hashes(col("text"), 8)).as("g"))
      .distinct().as[Long].collect().sorted
    assert(got.evalGrams.toSeq == evalWant.toSeq, "eval gram array")
    val ldocs = docs.select(col("doc_id"), col("lang"), text2.as("text2"))
    val model = NgramLm.train(
      ldocs.filter(col("doc_id") % 5 === 0), "text2", "lang")
    NgramLmSpec.assertSameModel(got.lm, NgramLmSpec.collected(model))
    val thWant = NgramLm.tertileThresholds(NgramLm.score(
        ldocs.filter(col("doc_id") % 3 === 0), "doc_id", "text2", "lang",
        model))
      .collect().map(r => r.getString(0) ->
        bits(Array(r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.lmThresholds.map { case (l, (t1, t2)) =>
      l -> bits(Array(t1, t2)) } == thWant, "tertile thresholds")
    val prep = Classifier.prepareQuality(
        graft.ops.Partitioning.spread(docs), "text", "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    assert(bits(got.w) == bits(Classifier.trainQuality(prep)),
      "classifier weights")
    prep.unpersist()
    val prepD = graft.ops.Partitioning.spread(docs)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        TextOps.bindOnce(TextOps.tokens(col("text")))(toks =>
          Classifier.stopwordLabel(toks)).as("is_target"),
        Dsir.bigramBuckets(col("text")).as("bs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lut = Dsir.fitRatioLut(prepD, "is_target")
    val mm = prepD.select(Dsir.importanceWeight(col("bs"), lut).as("w"))
      .agg(max(col("w")), min(col("w"))).head()
    prepD.unpersist()
    assert(bits(got.lut) == bits(lut), "DSIR ratio LUT")
    assert(bits(Array(got.mn, got.mx)) ==
      bits(Array(mm.getDouble(1), mm.getDouble(0))), "DSIR (mn, mx)")
    def tg(ts: Seq[(String, Long, Double, Long)]) = ts.map { case (g, n, sh, t) =>
      g -> ((n, java.lang.Double.doubleToLongBits(sh), t)) }.toMap
    assert(tg(got.targets) == tg(Mixture.temperatureTargets(docs, "lang")),
      "mixture targets")
  }

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("every artifact equals the per-fit chains on the sf0.001 corpus") {
    assertMatchesChains(docs)
  }

  test("a null-text doc counts toward its stratum size only; a " +
      "null-lang doc trains the LM but sets no threshold") {
    // docs 1000005 and 1000020 sit in every sample (% 3, % 5): the
    // null-text one in a stratum of its own, so a leak into any fit
    // would show — the per-fit chains skip it everywhere but the
    // mixture count; the null-lang one forms a null LM language that
    // score's lang join never matches, so it is never scored
    val withNull = docs.select(col("doc_id"), col("text"), col("lang"))
      .union(Seq((1000005L, null: String, "xx"),
          (1000020L, "the cat and the dog sat on the mat", null: String))
        .toDF("doc_id", "text", "lang"))
    assertMatchesChains(withNull)
    val got = AdmissionFit.fit(withNull, text2)
    assert(got.targets.exists { case (g, n, _, _) => g == "xx" && n == 1L })
    assert(!got.lm.stats.contains("xx") && !got.lmThresholds.contains("xx"))
    assert(got.lm.stats.contains(null) && !got.lmThresholds.contains(null))
  }
}
