package graft.text

import graft.SparkTestBase

/** Measures the encode kernel against a 10× merge table — the
  * production-table question the bundled 200-merge fixture leaves
  * open: the heap encode's per-merge work is table-size-INDEPENDENT
  * (rank lookups are hash probes; the heap holds at most one entry
  * per adjacent pair), so a bigger vocab costs more MERGES APPLIED —
  * and is measured FASTER end-to-end here (2.7 → 3.5 Mchars/s on the
  * sf0.1 corpus) because the deeper vocab emits fewer tokens
  * (5.8 → 9.2 chars/token) — never a per-token table scan. The
  * 2000-merge dev table
  * (src/test/resources/graft/bpe/merges_2k.tsv) is trained by the
  * same scripts/train_bpe.py run on the same corpus.
  */
class BpeThroughputSpec extends SparkTestBase {

  test("2000-merge table encode stays within ~4x of the 200-merge fixture") {
    val big = Bpe.loadResource("/graft/bpe/merges_2k.tsv")
    assert(big.merges.length == 2000)
    val small = Bpe.fixture
    import spark.implicits._
    val texts = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select($"text").as[String].collect()
      .map(t => Bpe.normalize(org.apache.spark.unsafe.types.UTF8String
        .fromString(t)))
    val chars = texts.map(_.length.toLong).sum
    def run(tab: Bpe.Table): (Double, Long) = {
      var toks = 0L
      texts.foreach(t => toks += tab.countTokens(t))  // warmup
      val t0 = System.nanoTime()
      toks = 0L
      texts.foreach(t => toks += tab.countTokens(t))
      ((System.nanoTime() - t0) / 1e9, toks)
    }
    val (dtSmall, nSmall) = run(small)
    val (dtBig, nBig) = run(big)
    info(f"200-merge:  $dtSmall%.2f s, ${chars / dtSmall / 1e6}%.1f Mchars/s, " +
      f"${chars.toDouble / nSmall}%.2f chars/token")
    info(f"2000-merge: $dtBig%.2f s, ${chars / dtBig / 1e6}%.1f Mchars/s, " +
      f"${chars.toDouble / nBig}%.2f chars/token")
    // deeper vocab compresses harder...
    assert(nBig < nSmall)
    // ...without a table-size blowup in encode cost
    assert(dtBig <= dtSmall * 4.0,
      f"big-table encode $dtBig%.2f s vs small $dtSmall%.2f s")
  }
}
