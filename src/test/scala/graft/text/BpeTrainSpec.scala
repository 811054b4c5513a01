package graft.text

import graft.SparkTestBase

/** Pins [[BpeTrain.trainMerges]] against the bundled fixture table —
  * the loop-closing check: the table `scripts/train_bpe.py` froze from
  * the sf0.001 corpus must be exactly what the in-engine distributed
  * trainer learns from the same corpus, so
  * train → tokenize → pack → meter runs end-to-end in-engine.
  */
class BpeTrainSpec extends SparkTestBase {

  import spark.implicits._

  test("learned prefix equals the bundled trainer table on its own corpus") {
    val k = 20
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val got = BpeTrain.trainMerges(docs, "text", k)
      .orderBy("rank")
      .select($"rank", $"left_tok", $"right_tok")
      .as[(Int, String, String)].collect()
    val want = Bpe.fixture.merges.take(k).zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
    assert(got.toSeq == want.toSeq,
      s"in-engine trainer diverged from scripts/train_bpe.py's table:\n" +
        got.toSeq.zip(want.toSeq).filter(p => p._1 != p._2).take(5))
  }

  test("stop condition: best pair below count 2 ends training early") {
    // every adjacent pair unique -> all counts 1 -> zero merges learned
    val docs = Seq((1L, "abcdefg")).toDF("doc_id", "text")
    assert(BpeTrain.trainMerges(docs, "text", 5).count() == 0L)
    // one repeating pair, then nothing at count >= 2: "ababX" corpus
    val docs2 = Seq((1L, "abZab")).toDF("doc_id", "text")
    val m = BpeTrain.trainMerges(docs2, "text", 5)
      .select($"left_tok", $"right_tok", $"n_pair")
      .as[(String, String, Long)].collect()
    assert(m.head == (("a", "b", 2L)), m.toSeq)
  }

  test("empty and single-char docs are dropped/pair-free, not errors") {
    val docs = Seq((1L, "  "), (2L, "x"), (3L, "yy yy"))
      .toDF("doc_id", "text")
    val m = BpeTrain.trainMerges(docs, "text", 2)
      .select($"rank", $"left_tok", $"right_tok", $"n_pair")
      .as[(Int, String, String, Long)].collect()
    // "yy yy": pairs (y,y)x2, (y,' '), (' ',y) -> learn ("y","y") n=2;
    // then tokens [yy, ' ', yy]: all pairs count 1 -> stop
    assert(m.toSeq == Seq((0, "y", "y", 2L)), m.toSeq)
  }

  test("delimiter contract: a '|' in the corpus fails loudly") {
    // ambiguous-boundary corruption would be IDENTICAL in engine and
    // oracle (the gate can't catch it), so the trainer must refuse
    val docs = Seq((1L, "ok text"), (2L, "bad|doc")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      BpeTrain.trainMerges(docs, "text", 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("delimiter contract")), e.getMessage)
  }

  test("tie-break: equal counts resolved by smallest (left, right)") {
    // "ba" x2 and "dc" x2 both count 2; (b,a) < (d,c) lexicographically
    val docs = Seq((1L, "baQba"), (2L, "dcRdc")).toDF("doc_id", "text")
    val m = BpeTrain.trainMerges(docs, "text", 1)
      .select($"left_tok", $"right_tok").as[(String, String)].collect()
    assert(m.head == (("b", "a")), m.toSeq)
  }
}
