package graft.text

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Randomized (seeded, reproducible) stream≡batch mirror pins: the
  * local stream-edge scorers must equal their distributed column
  * twins BIT-FOR-BIT on corpora far messier than the bench fixtures —
  * mixed case, tab/newline runs, leading/trailing whitespace, empty
  * and one-token docs, unmodeled languages, and token pairs built to
  * collide under a broken gram key ("a"/"bc" vs "ab"/"c"). A fixture
  * oracle can pass by luck; 200 random documents per property cannot.
  */
class MirrorPropertySpec extends SparkTestBase {

  import spark.implicits._

  // vocabulary engineered for edge cases: gram-key collision pairs,
  // stopwords (so is_target genuinely varies), casing, digits
  private val Vocab = Vector("a", "bc", "ab", "c", "the", "of", "is",
    "Data", "ROW", "x1", "zq7", "merge")
  private val Seps = Vector(" ", "  ", "\t", "\n", " \t ")

  private def randomDocs(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val text =
        if (i % 29 == 7) "" // empty doc
        else if (i % 29 == 14) Seps(rnd.nextInt(Seps.length)) // ws-only
        else {
          val k = 1 + rnd.nextInt(12)
          val words = Seq.fill(k)(Vocab(rnd.nextInt(Vocab.length)))
          // exercise BOTH trim arms of normLocal on non-empty docs
          val lead = if (rnd.nextBoolean()) " \t" else ""
          val trail = if (rnd.nextBoolean()) " " else ""
          lead + words.mkString(Seps(rnd.nextInt(Seps.length))) + trail
        }
      (i.toLong, text)
    }
  }

  test("Dsir.scoreLocal == the column pipeline on 200 random docs") {
    val docs = randomDocs(seed = 41, n = 200)
    val df = docs.toDF("doc_id", "text")
    val prep = df.select($"doc_id",
        TextOps.bindOnce(TextOps.tokens($"text"))(toks =>
          Classifier.stopwordLabel(toks)).as("is_target"),
        Dsir.bigramBuckets($"text").as("bs"))
      .persist()
    val lut = Dsir.fitRatioLut(prep, "is_target")
    val wts = prep.select($"doc_id", $"is_target",
        size($"bs").as("n_grams"),
        Dsir.importanceWeight($"bs", lut).as("weight"))
      .persist()
    val mm = wts.agg(max($"weight"), min($"weight")).head()
    val (mx, mn) = (mm.getDouble(0), mm.getDouble(1))
    val batch = wts.select($"doc_id", $"is_target", $"n_grams", $"weight",
        Dsir.keepByWeight($"doc_id", $"weight", lit(mn), lit(mx))
          .as("keep"))
      .as[(Long, Boolean, Int, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    var keeps = 0
    docs.foreach { case (id, text) =>
      val local = Dsir.scoreLocal(id, text, lut, mn, mx)
      assert(local == batch(id),
        s"doc $id (${text.take(30)}): local $local != batch ${batch(id)}")
      if (local._4) keeps += 1
    }
    assert(keeps > 0 && keeps < docs.length,
      s"draw must genuinely split, kept $keeps/${docs.length}")
    prep.unpersist(); wts.unpersist()
  }

  test("Classifier.marginLocal == prepareQuality + margin on 200 random docs") {
    // edge docs: empty after norm, one token, and a null lang
    val edges = Seq((1000L, " \t\n ", "en"), (1001L, "Data", "de"),
      (1002L, "the ROW of a bc", null))
    val docs = randomDocs(seed = 44, n = 200).map { case (id, text) =>
      (id, text, if (id % 2 == 0) "en" else "de") } ++ edges
    val df = docs.toDF("doc_id", "text", "lang")
    // weights from a real fit (signed, most buckets touched), so the
    // fold's operand order genuinely matters for the bits
    val w = Classifier.trainQuality(
      Classifier.prepareQuality(df, "text", "doc_id"), steps = 2)
    assert(w.exists(_ > 0.0) && w.exists(_ < 0.0))
    val batch = Classifier.prepareQuality(df, "text", "doc_id")
      .select($"doc_id", Classifier.margin($"bs", $"n", w).as("m"))
      .as[(Long, Double)].collect().toMap
    assert(batch.size == docs.size)
    docs.foreach { case (id, text, _) =>
      val local = Classifier.marginLocal(text, w)
      assert(java.lang.Double.doubleToLongBits(local) ==
        java.lang.Double.doubleToLongBits(batch(id)),
        s"doc $id (${text.take(30)}): local $local != batch ${batch(id)}")
    }
    // the gate genuinely splits on this corpus
    val keeps = docs.count { case (_, text, _) =>
      Classifier.marginLocal(text, w) > 0.0 }
    assert(keeps > 0 && keeps < docs.length, s"kept $keeps/${docs.length}")
  }

  test("TextOps.tokensLocal == tokens, non-ASCII case mappings included") {
    // final sigma (context-sensitive lowering), dotted capital I (one
    // char to two), capital sharp s, sharp s, mixed with ASCII
    val nonAscii = Seq("ΟΔΟΣ ΣΟΦΟΣ", "İSTANBUL İi", "STRAẞE ẞ",
      "straße Maß", "Σ", " ΑΣ\tΣΑ  ", "Éé ÀÇ İΣẞß")
    val docs = randomDocs(seed = 45, n = 200).map(_._2) ++ nonAscii
    val batch = docs.zipWithIndex.toDF("text", "i")
      .select($"i", TextOps.tokens($"text").as("toks"))
      .as[(Int, Seq[String])].collect().toMap
    docs.zipWithIndex.foreach { case (text, i) =>
      assert(TextOps.tokensLocal(text).toSeq == batch(i),
        s"'$text': local ${TextOps.tokensLocal(text).toSeq} != " +
          s"batch ${batch(i)}")
    }
  }

  test("NgramLm.scoreLocal == NgramLm.score on 200 random docs") {
    val rnd = new scala.util.Random(43)
    val docs = randomDocs(seed = 42, n = 200).map { case (id, text) =>
      // fr appears in the corpus but never in the training slice ->
      // unmodeled language, scoreLocal must return None for it
      val lang = if (id % 17 == 3) "fr"
        else Vector("en", "de")(rnd.nextInt(2))
      (id, lang, text)
    }
    val df = docs.toDF("doc_id", "lang", "text")
    val model = NgramLm.train(
      df.filter($"doc_id" % 3 === 0 && $"lang" =!= "fr"),
      "text", "lang")
    val local = NgramLmSpec.collected(model)
    // the edge-trained model is the same model on this messy corpus
    NgramLmSpec.assertSameModel(NgramLm.trainLocal(NgramLmSpec.normed(
      df.filter($"doc_id" % 3 === 0 && $"lang" =!= "fr"), "text", "lang")),
      local)
    val batch = NgramLm.score(df, "doc_id", "text", "lang", model)
      .select($"doc_id", $"n_tok", $"lm_score")
      .as[(Long, Int, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    docs.foreach { case (id, lang, text) =>
      val got = NgramLm.scoreLocal(text, lang, local)
      assert(got == batch.get(id),
        s"doc $id lang $lang (${text.take(30)}): local $got " +
          s"!= batch ${batch.get(id)}")
    }
    // the drop arms genuinely exercise: some docs scored, some not
    assert(batch.nonEmpty && batch.size < docs.length)
  }
}
