package graft.text

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins [[Dsir]]'s importance-resampling semantics: the smoothed
  * ratio LUT on a hand-computable corpus, target-like docs weighing
  * more than raw-like docs, the sub-bigram zero-weight guard, the
  * degenerate-corpus (max=min) keep-nothing guard, and determinism of
  * the salted draw under repartitioning.
  */
class DsirSpec extends SparkTestBase {

  import spark.implicits._

  private def prep(docs: Seq[(Long, String, Boolean)]) =
    docs.toDF("doc_id", "text", "is_target")
      .select($"doc_id", $"is_target",
        Dsir.bigramBuckets($"text").as("bs"))

  test("ratio LUT matches the hand computation on a two-gram corpus") {
    // target doc: "a b a b" -> bigrams (a b),(b a),(a b); raw-only
    // doc: "x y x y" -> (x y),(y x),(x y). T_t = 3, T_r = 6.
    val p = prep(Seq((1L, "a b a b", true), (2L, "x y x y", false)))
    val lut = Dsir.fitRatioLut(p, "is_target", dim = 4096)
    def b(g: String): Int =
      (BigInt(java.security.MessageDigest.getInstance("MD5")
        .digest(("ds:" + g).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16) % 4096).toInt
    val d = 4096
    // (ct+1)/(3+4096) / ((cr+1)/(6+4096)), in exactly that op order
    def want(ct: Long, cr: Long): Double =
      ((ct + 1).toDouble / (3 + d).toDouble) /
        ((cr + 1).toDouble / (6 + d).toDouble)
    assert(lut(b("a b")) == want(2, 2))
    assert(lut(b("b a")) == want(1, 1))
    assert(lut(b("x y")) == want(0, 2))
    assert(lut(b("y x")) == want(0, 1))
    assert(lut(b("never seen")) == want(0, 0))
  }

  test("target-like docs weigh more and the draw genuinely splits") {
    // targets speak in (a b) grams, the rest in (x y) grams; a scorer
    // that cannot tell them apart would weight them equally
    val docs = (0 until 12).map(i => (i.toLong, "a b a b a b", true)) ++
      (12 until 24).map(i => (i.toLong, "x y x y x y", false))
    val p = prep(docs).persist()
    val lut = Dsir.fitRatioLut(p, "is_target", dim = 4096)
    val wts = p.select($"doc_id", $"is_target",
      Dsir.importanceWeight($"bs", lut).as("w"))
    val mm = wts.agg(max($"w").as("mx"), min($"w").as("mn")).head()
    val (mx, mn) = (mm.getDouble(0), mm.getDouble(1))
    val rows = wts.select($"doc_id", $"is_target", $"w",
        Dsir.keepByWeight($"doc_id", $"w", lit(mn), lit(mx)).as("keep"))
      .collect()
    val tW = rows.filter(_.getBoolean(1)).map(_.getDouble(2)).min
    val rW = rows.filter(!_.getBoolean(1)).map(_.getDouble(2)).max
    assert(tW > rW, s"every target weight ($tW) above every raw ($rW)")
    // max-weight docs always keep (u < 1 normalized); min-weight never
    assert(rows.filter(_.getBoolean(1)).forall(_.getBoolean(3)))
    assert(rows.filter(!_.getBoolean(1)).forall(!_.getBoolean(3)))
    p.unpersist()
  }

  test("sub-bigram docs weigh zero and are never kept") {
    val p = prep(Seq((1L, "solo", false), (2L, "a b", true)))
    val lut = Dsir.fitRatioLut(p, "is_target", dim = 4096)
    val got = p.select($"doc_id",
        Dsir.importanceWeight($"bs", lut).as("w"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0)
    assert(got(2L) > 0.0)
  }

  test("degenerate corpus (max = min) keeps nothing, never NaN") {
    val p = prep(Seq((1L, "a b", true), (2L, "a b", false)))
    val lut = Dsir.fitRatioLut(p, "is_target", dim = 4096)
    val kept = p.select(
        Dsir.keepByWeight($"doc_id",
          Dsir.importanceWeight($"bs", lut), lit(0.5), lit(0.5)).as("k"))
      .as[Boolean].collect()
    assert(kept.forall(_ == false))
  }

  test("null target flags count toward the raw distribution only") {
    // the one-pass fit must reproduce the previous aggregate's
    // when(targetCol) semantics: a NULL flag contributes its grams to
    // the raw counts/total but never to the target side
    val withNull = Seq((1L, "a b a b", java.lang.Boolean.TRUE),
        (2L, "x y x y", null.asInstanceOf[java.lang.Boolean]))
      .toDF("doc_id", "text", "is_target")
      .select($"doc_id", $"is_target", Dsir.bigramBuckets($"text").as("bs"))
    val asFalse = prep(Seq((1L, "a b a b", true), (2L, "x y x y", false)))
    val lutN = Dsir.fitRatioLut(withNull, "is_target", dim = 4096)
    val lutF = Dsir.fitRatioLut(asFalse, "is_target", dim = 4096)
    assert(lutN.toSeq == lutF.toSeq,
      "null flags must fit exactly like false flags")
  }

  test("a null-text doc contributes nothing: the LUT without it") {
    // its bs is null; the fit must skip it, not fail on the decode
    val base = Seq((1L, "a b a b", true), (2L, "x y x y", false))
    val lutN = Dsir.fitRatioLut(prep(base :+ ((3L, null: String, true))),
      "is_target", dim = 4096)
    val lut = Dsir.fitRatioLut(prep(base), "is_target", dim = 4096)
    assert(lutN.toSeq.map(java.lang.Double.doubleToLongBits) ==
      lut.toSeq.map(java.lang.Double.doubleToLongBits))
  }

  test("the salted draw is partition-independent") {
    val docs = (0 until 64).map(i =>
      (i.toLong, if (i % 3 == 0) "a b a b" else "x y x y", i % 3 == 0))
    val p1 = prep(docs).repartition(1)
    val p8 = prep(docs).repartition(8)
    val lut1 = Dsir.fitRatioLut(p1, "is_target", dim = 4096)
    val lut8 = Dsir.fitRatioLut(p8, "is_target", dim = 4096)
    assert(lut1.toSeq == lut8.toSeq, "LUT fit must not depend on layout")
    def verdict(p: org.apache.spark.sql.DataFrame,
        lut: Array[Double]): Map[Long, Boolean] = {
      val wts = p.select($"doc_id",
        Dsir.importanceWeight($"bs", lut).as("w"))
      val mm = wts.agg(max($"w"), min($"w")).head()
      wts.select($"doc_id", Dsir.keepByWeight($"doc_id", $"w",
          lit(mm.getDouble(1)), lit(mm.getDouble(0))).as("k"))
        .as[(Long, Boolean)].collect().toMap
    }
    assert(verdict(p1, lut1) == verdict(p8, lut8))
  }
}
