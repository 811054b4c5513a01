package graft.text

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** Pins [[NgramLm]]'s Stupid Backoff semantics on a hand-computable
  * corpus: backoff ladder level selection, the minCount prune, the
  * add-one OOV floor, the fixed-point mean, and the tertile gate's
  * order-statistic thresholds.
  */
class NgramLmSpec extends SparkTestBase {

  import spark.implicits._

  private def fp(xs: Seq[Double]): Double =
    xs.map(s => math.floor(s * 4294967296.0)).sum / 4294967296.0 / xs.length

  test("backoff ladder, prune, and OOV floor match hand computation") {
    // target: "a b c a b d" x2 docs -> unigrams a:4 b:4 c:2 d:2 (N=12,
    // V=4); bigrams (a,b):4 (b,c):2 (c,a):2 (b,d):2 kept, none pruned;
    // trigrams (a,b,c):2 (a,b,d):2 (b,c,a):2 (c,a,b):2 kept
    val target = Seq((0L, "en", "a b c a b d"), (5L, "en", "a b c a b d"))
      .toDF("doc_id", "lang", "text")
    val model = NgramLm.train(target, "text", "lang")
    // scoring doc "a b c x": pos0 uni a=(4+1)/(12+4); pos1 bi (a,b)=4/4;
    // pos2 tri (a,b,c)=2/4; pos3: tri (b,c,x) miss, bi (c,x) miss ->
    // 0.4*0.4*OOV floor (x unseen: (0+1)/16)
    val got = NgramLm.score(
        Seq((1L, "en", "a b c x")).toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", model)
      .select($"doc_id", $"n_tok", $"lm_score")
      .as[(Long, Int, Double)].collect().head
    val want = fp(Seq(5.0 / 16, 4.0 / 4, 2.0 / 4, 0.4 * 0.4 * (1.0 / 16)))
    assert(got == ((1L, 4, want)), s"got $got want $want")
  }

  test("minCount prunes singleton grams out of the model") {
    // bigram (a,b) occurs once -> pruned; scoring "a b" backs off to
    // 0.4 * uni(b) even though the bigram was SEEN
    val target = Seq((0L, "en", "a b"), (5L, "en", "b b"))
      .toDF("doc_id", "lang", "text")
    // unigrams: a:1 b:3 (N=4, V=2); bigrams all count 1 -> model empty
    val model = NgramLm.train(target, "text", "lang")
    assert(model.bi.count() == 0L && model.tri.count() == 0L)
    val got = NgramLm.score(
        Seq((1L, "en", "a b")).toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", model)
      .select($"lm_score").as[Double].collect().head
    val want = fp(Seq(2.0 / 6, 0.4 * (4.0 / 6)))
    assert(got == want, s"got $got want $want")
  }

  test("documents of an unmodeled language are dropped, not scored") {
    val target = Seq((0L, "en", "a b a b")).toDF("doc_id", "lang", "text")
    val model = NgramLm.train(target, "text", "lang")
    val scored = NgramLm.score(
      Seq((1L, "en", "a b"), (2L, "fr", "a b"))
        .toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", model)
    assert(scored.select($"doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("tertile gate: thresholds are sampled order statistics, strict >") {
    // scores 1..9 on doc_ids 0,3,6,...,24 (all sampled: doc_id % 3 = 0);
    // m=9, k1=3 -> t1=3rd smallest, k2=6 -> t2=6th smallest
    val scores = (0 until 9).map(i =>
        (i * 3L, "en", 10, (i + 1).toDouble / 10))
      .toDF("doc_id", "lang", "n_tok", "lm_score")
    val got = NgramLm.tertileGate(scores)
      .select($"doc_id", $"bucket", $"keep")
      .as[(Long, String, Boolean)].collect().sortBy(_._1)
    val buckets = got.map(_._2).toSeq
    assert(buckets == Seq("tail", "tail", "tail",
      "middle", "middle", "middle", "head", "head", "head"), buckets)
    assert(got.map(_._3).toSeq == buckets.map(_ != "tail"))
  }

  test("gram keys cannot collide: scoreLocal == score on (a,bc)/(ab,c)") {
    // ("a","bc") and ("ab","c") concatenate identically — a
    // separator-free (or token-legal-separator) gram key would
    // conflate them in LocalModel's toMap and scoreLocal would
    // silently serve the wrong bigram ratio. Give the two bigrams
    // DIFFERENT values so a collision is detectable: bi(a,bc)=2/3,
    // bi(ab,c)=2/2.
    val target = Seq(
        (0L, "en", "a bc a bc a"),
        (5L, "en", "ab c ab c"))
      .toDF("doc_id", "lang", "text")
    val model = NgramLm.train(target, "text", "lang")
    val bi = model.bi.collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(bi(("a", "bc")) == 2.0 / 3 && bi(("ab", "c")) == 2.0 / 2, bi)
    val local = NgramLmSpec.collected(model)
    val docs = Seq((1L, "en", "a bc"), (2L, "en", "ab c"))
    val dist = NgramLm.score(docs.toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", model)
      .select($"doc_id", $"n_tok", $"lm_score")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    docs.foreach { case (id, lang, txt) =>
      assert(NgramLm.scoreLocal(txt, lang, local) == Some(dist(id)),
        s"doc $id: local != distributed")
    }
  }

  test("tertile gate keeps a language absent from the sample: tail/false") {
    // fr has no doc_id % 3 == 0 row -> no thresholds; the LEFT join
    // must retain its docs with the documented conservative default
    // (bucket='tail', keep=false), not drop the language
    val scores = ((0 until 9).map(i =>
        (i * 3L, "en", 10, (i + 1).toDouble / 10)) ++
        Seq((1L, "fr", 10, 0.9), (2L, "fr", 10, 0.1)))
      .toDF("doc_id", "lang", "n_tok", "lm_score")
    val fr = NgramLm.tertileGate(scores)
      .filter($"lang" === "fr")
      .select($"doc_id", $"bucket", $"keep")
      .as[(Long, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(fr == Seq((1L, "tail", false), (2L, "tail", false)), fr)
  }

  test("boundary ties land on the non-head side of a strict >") {
    // all scores equal -> t1 = t2 = the value; nothing is > it ->
    // every doc is tail, keep = false (deterministic on any engine)
    val scores = (0 until 6).map(i => (i.toLong, "en", 5, 0.5))
      .toDF("doc_id", "lang", "n_tok", "lm_score")
    val got = NgramLm.tertileGate(scores)
      .select($"bucket").as[String].collect().toSet
    assert(got == Set("tail"))
  }

  test("the admission edge's threshold-map gate reproduces tertileGate's " +
      "keep for every doc, and a sample-only fit yields the same map") {
    // qst23 collects tertileThresholds into a lang -> Option(t1) map
    // and gates arrivals with thMap.get(lang).flatten.exists(sc > _);
    // this pins that LOCAL evaluation ≡ tertileGate's join semantics
    // on all three doc classes: sampled (en, doc_id % 3 = 0),
    // UNsampled doc of a sampled language (en doc 4), and docs of a
    // language absent from the sample entirely (fr → keep = false).
    // It also pins the qst23 fit-cost lever: thresholds fit on ONLY
    // the % 3 sample are bit-identical to thresholds fit on all
    // scores (tertileThresholds re-applies the same filter).
    val scores = ((0 until 9).map(i =>
        (i * 3L, "en", 10, (i + 1).toDouble / 10)) ++
        Seq((1L, "fr", 10, 0.9), (2L, "fr", 10, 0.1),
          (4L, "en", 10, 0.95)))
      .toDF("doc_id", "lang", "n_tok", "lm_score")
    def toThMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val thMap = toThMap(NgramLm.tertileThresholds(scores))
    val thSample = toThMap(NgramLm.tertileThresholds(
      scores.filter($"doc_id" % 3 === 0)))
    assert(thMap == thSample,
      s"sample-only fit diverged: $thMap vs $thSample")
    // the edge fits the thresholds locally: the same map, bit for bit
    val rows = scores.select($"doc_id", $"lang", $"lm_score")
      .as[(Long, String, Double)].collect().toSeq
    val local = NgramLm.tertileThresholdsLocal(rows)
    assertSameThresholds(local, NgramLm.tertileThresholds(scores))
    assert(local.map { case (l, t) => l -> Some(t._1) } == thMap)
    val gate = NgramLm.tertileGate(scores)
      .select($"doc_id", $"lang", $"lm_score", $"keep")
      .as[(Long, String, Double, Boolean)].collect()
    assert(gate.length == 12)
    gate.foreach { case (id, lang, sc, keep) =>
      val local = thMap.get(lang).flatten.exists(sc > _)
      assert(local == keep,
        s"doc $id ($lang, $sc): edge gate $local != tertileGate $keep")
    }
    // the non-sampled en doc genuinely rides sampled thresholds
    assert(gate.find(_._1 == 4L).exists(_._4 == true))
    assert(gate.filter(_._2 == "fr").forall(!_._4))
  }

  private def assertSameThresholds(local: Map[String, (Double, Double)],
      table: DataFrame): Unit = {
    val want = table.collect().map(r =>
      r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    def bits(m: Map[String, (Double, Double)]) = m.map { case (l, (a, b)) =>
      l -> ((java.lang.Double.doubleToLongBits(a),
        java.lang.Double.doubleToLongBits(b)))
    }
    assert(bits(local) == bits(want), s"local $local != table $want")
  }

  test("local tertile thresholds equal tertileThresholds: ties, m % 3 != 0, " +
      "a one-doc language") {
    // en: 7 sampled docs (m = 7 -> ranks 3 and 5) with tied scores
    // that straddle both ranks, listed out of order; de: 5 sampled
    // docs (ranks 2 and 4); fr: ONE sampled doc (both ranks 1) plus
    // unsampled ones that must not count; unsampled en docs carry
    // extreme scores that would move the ranks if they leaked in
    val en = Seq((0L, 0.5), (3L, 0.25), (6L, 0.5), (9L, 0.5),
      (12L, 0.75), (15L, 0.25), (18L, 0.5), (1L, 0.0), (2L, 1.0))
    val de = Seq((21L, 0.3), (24L, 0.1), (27L, 0.3), (30L, 0.9),
      (33L, 0.2))
    val fr = Seq((36L, 0.6), (37L, 0.1), (38L, 0.95))
    val rows = en.map(r => (r._1, "en", r._2)) ++
      de.map(r => (r._1, "de", r._2)) ++ fr.map(r => (r._1, "fr", r._2))
    val scores = rows.map { case (id, l, sc) => (id, l, 10, sc) }
      .toDF("doc_id", "lang", "n_tok", "lm_score")
    val local = NgramLm.tertileThresholdsLocal(rows)
    assertSameThresholds(local, NgramLm.tertileThresholds(scores))
    assert(local == Map("en" -> ((0.5, 0.5)), "de" -> ((0.2, 0.3)),
      "fr" -> ((0.6, 0.6))), local)
  }

  test("trainLocal equals the collected train model bit for bit") {
    // en: bigram (p q) occurs once (minCount - 1 at minCount 2) and is
    // pruned while its unigrams stay; (a b) ends docs, so its RAW
    // count (4) exceeds its one kept child trigram's (a b c: 2) — the
    // kept trigram's denominator must be the raw 4; the (a,bc)/(ab,c)
    // key-collision pair; a whitespace-only text that normalizes to
    // empty; de: a second language sharing tokens with en
    val target = Seq(
        ("en", "a b c a b"), ("en", "a b c a b"), ("en", "p q"),
        ("en", " \t \n "), ("en", ""),
        ("en", "x bc x bc x"), ("en", "xb c xb c"),
        ("de", "a b a b a"), ("de", "Der  Die DAS der die das"))
      .toDF("lang", "text")
    Seq(1, 2, 3).foreach { minCount =>
      val want = NgramLmSpec.collected(
        NgramLm.train(target, "text", "lang", minCount))
      val got = NgramLm.trainLocal(
        NgramLmSpec.normed(target, "text", "lang"), minCount)
      NgramLmSpec.assertSameModel(got, want)
    }
    val m2 = NgramLm.trainLocal(NgramLmSpec.normed(target, "text", "lang"))
    assert(!m2.bi.contains(("en", "p q")) && m2.uni(("en", "p")) == 1L)
    assert(m2.tri(("en", "a b c")) == 2.0 / 4.0)
    assert(m2.bi(("en", "x bc")) == 2.0 / 3.0 && m2.bi(("en", "xb c")) == 1.0)
    assert(m2.stats.keySet == Set("en", "de"))
  }
}

/** The spec-side reference for the edge model: [[NgramLm.train]]'s
  * tables collected into a [[NgramLm.LocalModel]], and a bit-exact
  * model comparison.
  */
object NgramLmSpec {

  import org.scalatest.Assertions._

  def collected(model: NgramLm.Model): NgramLm.LocalModel = {
    def key(r: org.apache.spark.sql.Row, from: Int, to: Int): String =
      (from until to).map(r.getString).mkString(" ")
    NgramLm.LocalModel(
      model.uni.collect().map(r =>
        (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      model.bi.collect().map(r =>
        (r.getString(0), key(r, 1, 3)) -> r.getDouble(3)).toMap,
      model.tri.collect().map(r =>
        (r.getString(0), key(r, 1, 4)) -> r.getDouble(4)).toMap,
      model.langStats.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
  }

  /** (lang, norm(text)) rows: [[NgramLm.trainLocal]]'s input. */
  def normed(df: DataFrame, textCol: String, langCol: String)
      : RDD[(String, String)] = {
    import df.sparkSession.implicits._
    df.select(col(langCol), TextOps.norm(col(textCol)))
      .as[(String, String)].rdd
  }

  def assertSameModel(got: NgramLm.LocalModel,
      want: NgramLm.LocalModel): Unit = {
    def bits(m: Map[(String, String), Double]) =
      m.map { case (k, v) => k -> java.lang.Double.doubleToLongBits(v) }
    assert(got.uni == want.uni, "unigram counts differ")
    assert(bits(got.bi) == bits(want.bi), "bigram ratios differ")
    assert(bits(got.tri) == bits(want.tri), "trigram ratios differ")
    assert(got.stats == want.stats, "per-language stats differ")
  }
}
