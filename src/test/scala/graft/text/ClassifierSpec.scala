package graft.text

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins [[Classifier]]'s trained-logistic-regression semantics: the
  * exact first-step weight update on a hand-computable corpus, the
  * serving-fold equivalence that makes the trained vector drop-in for
  * qt28's [[TextOps.hashedClassifierScore]], genuine learning on a
  * separable corpus, and the power-of-two eta guard.
  */
class ClassifierSpec extends SparkTestBase {

  import spark.implicits._

  private def bucket(tok: String, dim: Int = 4096): Int =
    (BigInt(java.security.MessageDigest.getInstance("MD5")
      .digest(("qc:" + tok).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15), 16) % dim).toInt

  test("first gradient step matches the hand computation exactly") {
    // two docs: "the the is" (3 stops of 3 -> y=1), "big data rows"
    // (0 stops -> y=0). Step 1: p = 0.5 for every doc, so per-token
    // q = floor((y - 0.5)/3 * 2^32) = floor(+-715827882.66) ->
    // 715827882 for doc 1, -715827883 for doc 2 (floor, not trunc).
    val docs = Seq((1L, "the the is"), (2L, "big data rows"))
      .toDF("doc_id", "text")
    val prep = Classifier.prepareQuality(docs, "text", "doc_id")
    assert(prep.select($"doc_id", $"y").as[(Long, Int)].collect().toMap
      == Map(1L -> 1, 2L -> 0))
    val w = Classifier.trainQuality(prep, eta = 128.0, steps = 1)
    val eta = 128.0
    val wantThe = eta * ((2.0 * 715827882L) / 4294967296.0 / 2.0)
    val wantIs = eta * ((1.0 * 715827882L) / 4294967296.0 / 2.0)
    val wantNeg = eta * ((1.0 * -715827883L) / 4294967296.0 / 2.0)
    assert(w(bucket("the")) == wantThe)
    assert(w(bucket("is")) == wantIs)
    assert(w(bucket("big")) == wantNeg && w(bucket("data")) == wantNeg)
    assert(w.count(_ != 0.0) == 5, "exactly the 5 seen buckets move")
  }

  test("margin over buckets == hashedClassifierScore over text (drop-in serving)") {
    val docs = Seq(
        (1L, "the quick brown fox and the hound"),
        (2L, "big data rows of the lake"),
        (3L, "a of to is in and the"))
      .toDF("doc_id", "text")
    val prep = Classifier.prepareQuality(docs, "text", "doc_id")
      .persist()
    val w = Classifier.trainQuality(prep, eta = 128.0, steps = 3)
    val viaBuckets = prep
      .select($"doc_id", Classifier.margin($"bs", $"n", w).as("m"))
      .as[(Long, Double)].collect().toMap
    val viaText = docs
      .select($"doc_id",
        TextOps.hashedClassifierScore($"text", w).as("m"))
      .as[(Long, Double)].collect().toMap
    assert(viaBuckets == viaText,
      "the two serving folds must be bit-identical")
    prep.unpersist()
  }

  test("training genuinely learns a separable stopword rule") {
    // 40 docs, half stop-heavy, half stop-free -> cleanly separable;
    // after 8 steps every margin must be on the correct side
    val pos = (0 until 20).map(i =>
      (i.toLong, s"the a of and to is in the a of word$i"))
    val neg = (0 until 20).map(i =>
      (100L + i, s"alpha beta gamma delta eps zeta eta$i theta iota"))
    val docs = (pos ++ neg).toDF("doc_id", "text")
    val prep = Classifier.prepareQuality(docs, "text", "doc_id")
      .persist()
    val w = Classifier.trainQuality(prep, eta = 128.0, steps = 8)
    val got = prep.select($"doc_id", $"y",
        Classifier.margin($"bs", $"n", w).as("m"))
      .as[(Long, Int, Double)].collect()
    val correct = got.count { case (_, y, m) => (m > 0) == (y == 1) }
    assert(correct == 40, s"only $correct/40 correct after training")
    prep.unpersist()
  }

  test("a null-text doc contributes nothing: the weights without it") {
    // the null doc's y/n/bs are null; it must neither move a bucket
    // nor count in N, in the DataFrame form and the RDD form alike
    val docs = Seq((1L, "the the is"), (2L, "big data rows"),
      (3L, "of the lake and the rows"))
    val withNull = docs :+ ((4L, null: String))
    def train(d: Seq[(Long, String)]) = Classifier.trainQuality(
      Classifier.prepareQuality(d.toDF("doc_id", "text"), "text", "doc_id"),
      eta = 128.0, steps = 3)
    val bits = (w: Array[Double]) =>
      w.toSeq.map(java.lang.Double.doubleToLongBits)
    val want = bits(train(docs))
    assert(bits(train(withNull)) == want)
    val rows = Classifier.prepareQuality(docs.toDF("doc_id", "text"),
        "text", "doc_id")
      .select($"y", $"n", $"bs").as[(Int, Int, Array[Int])].collect()
    assert(bits(Classifier.trainQualityRdd(spark.sparkContext.parallelize(
      rows.toSeq :+ ((0, 0, null: Array[Int]))), steps = 3)) == want)
  }

  test("non-power-of-two eta is rejected (exactness contract)") {
    val prep = Classifier.prepareQuality(
      Seq((1L, "the a")).toDF("doc_id", "text"), "text", "doc_id")
    intercept[IllegalArgumentException] {
      Classifier.trainQuality(prep, eta = 100.0, steps = 1)
    }
    // Infinity has a zero mantissa (exponent-only bit pattern) and is
    // > 0 — the mantissa test alone would accept it and train
    // Infinity/NaN weights silently; the finite check must catch it
    intercept[IllegalArgumentException] {
      Classifier.trainQuality(prep, eta = Double.PositiveInfinity,
        steps = 1)
    }
  }
}
