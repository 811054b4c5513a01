package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.Decontaminate

/** Scale-posture guardrail: candidate generation in every lake-path
  * dedup / ANN / decontamination operator must stay an EQUI-join on a
  * band/bucket/prefix key — a Cartesian or broadcast-nested-loop node
  * in these plans means someone degraded a key equality into a
  * non-equi predicate and the operator went quadratic in the corpus.
  * (bruteTopK / brutePairs are the documented non-lake baselines and
  * deliberately not listed.)
  */
class PlanGuardSpec extends SparkTestBase {

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 4)
    .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  private def assertNoQuadraticJoin(name: String, df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach { bad =>
      assert(!plan.contains(bad), s"$name plan contains $bad:\n$plan")
    }
    df.unpersist()
    spark.catalog.clearCache()
  }

  test("no lake-path operator plans a Cartesian or nested-loop join") {
    Seq[(String, DataFrame)](
      "minhashPairs" -> Dedup.minhashPairs(docs, "text", "doc_id",
        k = 8, bands = 4, threshold = 0.6),
      "minhashPairsLake" -> Dedup.minhashPairs(docs, "text", "doc_id",
        k = 8, bands = 4, threshold = 0.6, broadcastSets = false),
      "minhashPairsCapped" -> Dedup.minhashPairs(docs, "text", "doc_id",
        k = 8, bands = 4, threshold = 0.6, maxBucket = 8),
      "simhashPairs" -> Dedup.simhashPairs(docs, "text", "doc_id"),
      "simhashPairsLake" -> Dedup.simhashPairs(docs, "text", "doc_id",
        broadcastFingerprints = false),
      "ngramJaccardPairs" -> Dedup.ngramJaccardPairs(docs, "text", "doc_id"),
      "ngramJaccardPairsLake" -> Dedup.ngramJaccardPairs(docs, "text",
        "doc_id", broadcastSets = false, broadcastDocFreq = false),
      "incrementalDupFlags" -> Dedup.incrementalDupFlags(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id"),
      "incrementalDupFlagsLake" -> Dedup.incrementalDupFlags(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id",
        broadcastSets = false),
      "incrementalDupFlagsCapped" -> Dedup.incrementalDupFlags(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id",
        maxBucket = 8),
      "lshTopKOneTable" -> Similarity.lshTopKMulti(emb, queries, "vec_id",
        "embedding", "query_id", "qe", k = 3, planes = 4, tables = 1),
      "lshTopKMulti" -> Similarity.lshTopKMulti(emb, queries, "vec_id",
        "embedding", "query_id", "qe", k = 3, planes = 4, tables = 2),
      "lshNearDupPairs" -> Similarity.lshNearDupPairs(emb, "vec_id",
        "embedding", threshold = 0.45, planes = 4, tables = 2),
      "lshNearDupPairsCapped" -> Similarity.lshNearDupPairs(emb, "vec_id",
        "embedding", threshold = 0.45, planes = 4, tables = 2, maxBucket = 8),
      "decontaminate" -> Decontaminate.contaminated(
        docs, docs.filter(col("doc_id") < 5), "text", "doc_id"),
      "decontaminateLake" -> Decontaminate.contaminated(
        docs, docs.filter(col("doc_id") < 5), "text", "doc_id",
        broadcastEval = false),
      "decontaminateBloom" -> Decontaminate.contaminatedBloom(
        docs, docs.filter(col("doc_id") < 5), "text", "doc_id"),
      "boilerplateRemoval" -> graft.text.Boilerplate.removeBoilerplate(
        docs, "text", "doc_id"),
      // (Bm25.topK and tfidfKeywords are deliberately absent: their
      // one-row corpus-stats attach — N / Σdl / n_docs — is a
      // documented broadcast-of-one-row cross join)
      "dictionaryQuality" -> graft.text.Vocab.dictionaryQuality(docs,
        "doc_id", "text", topN = 50, keepAt = 0.8),
      // the multimodal fingerprint dedup family: candidates must stay
      // a band-bucket equi-join over the 64-bit codes (media joined
      // only to build the fingerprint table, never pairwise)
      "imageDupPairs" -> graft.multimodal.Multimodal.imageDupPairs(
        docs.select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("bytes")), maxDist = 3),
      "imageDupPairsCapped" -> graft.multimodal.Multimodal.imageDupPairs(
        docs.select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("bytes")), maxDist = 3,
        maxBucket = 8),
      "audioDupPairs" -> graft.multimodal.Multimodal.audioDupPairs(
        docs.select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("bytes")), maxDist = 3),
      // exact-substring decon: anchors must join as a gram-hash
      // equi-join in BOTH eval-size arms — a NLJ here means the
      // diagonal predicate leaked into the join condition
      "longestSharedRun" -> Decontaminate.longestSharedRun(
        docs, docs.filter(col("doc_id") < 5), "text", "doc_id"),
      "longestSharedRunLake" -> Decontaminate.longestSharedRun(
        docs, docs.filter(col("doc_id") < 5), "text", "doc_id",
        broadcastEval = false),
      // the excision composes the span chain with a doc-keyed left
      // join + a per-row lambda filter — still no NLJ anywhere
      "exciseSharedRuns" -> Decontaminate.exciseSharedRuns(
        docs, docs.filter(col("doc_id") < 5), "text", "doc_id"),
      // the intra-doc form generates pairs by group-and-unfold (one
      // gram pass, no self-join) — the only join left is the span
      // attach, which must stay a doc-keyed equi-join
      "exciseRepeatedRuns" -> Decontaminate.exciseRepeatedRuns(
        docs, "text", "doc_id"),
      // the cross-doc form unfolds ordered pairs from per-gram
      // occurrence arrays — same contract: no self-join, no NLJ; the
      // span attach stays the doc-keyed equi-join
      "exciseCrossDocRuns" -> Decontaminate.exciseCrossDocRuns(
        docs, "text", "doc_id"),
      // n-gram LM scoring + tertile gate: the three model attaches
      // must stay broadcast equi-joins on (lang, gram) keys and the
      // threshold attach a broadcast lang equi-join — the only
      // exchanges are the gram-count aggregates and the doc-keyed
      // fixed-point mean
      "ngramLmScoreAndGate" -> {
        val m = graft.text.NgramLm.train(
          docs.filter(col("doc_id") % 5 === 0), "text", "lang")
        graft.text.NgramLm.tertileGate(graft.text.NgramLm.score(
          docs, "doc_id", "text", "lang", m))
      }
    ).foreach { case (name, df) => assertNoQuadraticJoin(name, df) }
  }

  test("model-literal scorers are map-only: no join, no exchange") {
    // DSIR importance scoring and the trained-classifier margin carry
    // their model as a plan-literal array (the Ivf centroidsLit
    // class) — the whole point is that corpus scoring rides the scan
    // with NO join and NO shuffle. A Join/Exchange node here means
    // someone turned the LUT into a table. (qt47's 1-row min/max
    // normalizer attach is the documented Bm25-class broadcast cross
    // join and lives OUTSIDE these scoring subtrees.)
    val lut = Array.fill(4096)(1.0)
    Seq[(String, DataFrame)](
      "dsirImportance" -> docs.select(
        graft.text.Dsir.importanceWeight(
          graft.text.Dsir.bigramBuckets(col("text")), lut)),
      "classifierMargin" -> docs.select(
        graft.text.Classifier.margin(
          transform(graft.functions.TokenHashes60.token_hashes60(
            graft.text.TextOps.tokens(col("text"))),
            h => (h % 4096).cast("int")),
          size(graft.text.TextOps.tokens(col("text"))), lut))
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      Seq("Join", "Exchange").foreach { bad =>
        assert(!plan.contains(bad), s"$name plan contains $bad:\n$plan")
      }
    }
  }

  test("serving ANN candidate joins stay cell equi-joins") {
    // the IVF family probes by CELL equi-join — a Cartesian/NLJ here
    // means the probe degraded to scoring every (query, vector) pair
    import graft.sim.{Ivf, Pq}
    val cells = Ivf.fit(emb, "vec_id", "embedding", k = 4, iters = 0)
    val pq = Pq.fit(emb, "vec_id", "embedding", m = 16, k = 16)
    val withRecon = emb.select(col("vec_id"), col("embedding"),
      Pq.reconstruct(col("embedding"), pq).as("recon"))
    Seq[(String, DataFrame)](
      "ivfTopK" -> Ivf.topK(emb, queries, "vec_id", "embedding",
        "query_id", "qe", cells, k = 3, nprobe = 2),
      "ivfTopKOnRecon" -> Ivf.topKOn(withRecon, queries, "vec_id",
        "embedding", "recon", "query_id", "qe", cells, k = 3, nprobe = 2),
      "ivfTopKAdc" -> Ivf.topKAdc(emb, queries, "vec_id", "embedding",
        "query_id", "qe", cells, pq, k = 3, nprobe = 2),
      // tombstone serving: the anti-join must stay an equi-join and
      // the probe must stay a cell equi-join — a NLJ here would mean
      // retraction degraded the serving plan
      "ivfTopKAdcTombstones" -> Ivf.topKAdcOnIndexWithTombstones(
        Ivf.assign(emb, "vec_id", "embedding", cells)
          .select(col("vec_id"), Pq.codes(col("embedding"), pq).as("codes"),
            col("cell")),
        emb.filter(col("vec_id") % 8 === 3).select(col("vec_id")),
        queries, "vec_id", "query_id", "qe", cells, pq, k = 3, nprobe = 2),
      // the IVF-composed two-stage form has NO quadratic-join
      // exemption: its coarse tier is the cell equi-join + bounded
      // aggregate end-to-end. (Serving.twoStageTopK — the SCAN form —
      // is deliberately absent: its stage-1 popcount scan IS a
      // broadcast-nested-loop over the 8-byte code column by design,
      // the binary coarse-filter shape; stages 2-3 are id equi-joins)
      "twoStageTopKIvf" -> graft.sim.Serving.twoStageTopKIvf(emb, queries,
        "vec_id", "embedding", "query_id", "qe", cells,
        graft.sim.Similarity.signThresholds(emb, "vec_id", "embedding"),
        pq, k = 3, coarseK = 10, shortK = 5, nprobe = 2)
    ).foreach { case (name, df) => assertNoQuadraticJoin(name, df) }
  }
}
