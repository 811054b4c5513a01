package graft

/** Plan-inspection main: prints the formatted physical plan of named
  * queries (default: a pushdown/broadcast/window representative set) so
  * plan regressions — lost PushedFilters, a broadcast that became a
  * shuffle, a codegen fallback — are visible.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {

  /** The queries printed when none is named: each one's comment says
    * what its plan must keep. SparkEntrySpec checks every name is a
    * registered query.
    */
  val defaultQueries: Seq[String] = Seq(
    "q01_agg_pricing", "q02_filter_project", "q03_join_nation_revenue",
    "q04_semi_join", "q06_asof_next_purchase", "q17_pit_versions",
    "qd3_minhash_lsh", "qd5_ngram_jaccard", "q32_adjusted_close",
    "qt4_rolling_fingerprint",
    // round-5 additions worth watching for plan regressions: slim
    // LSH candidate joins, gram-hash decontamination, shard-window
    // packing, and the curation composite
    "qs6_lsh_neardup", "qt9_decontaminate", "qt10_seq_pack",
    "qx3_curate",
    // round-8 additions: the lake (shuffle) arms — watch that the
    // persisted prefix table keeps the candidate self-join reading
    // cache, and that the shuffled eval side stays an equi-join
    "qd7_ngram_jaccard_lake", "qt13_decontaminate_lake",
    // round-9 additions: the remaining dedup lake arms, the bloom
    // pre-filter (must sit BELOW the exchange on the probe side),
    // and boilerplate reassembly (equi-joins + one per-doc agg)
    "qd9_minhash_lake", "qd10_incremental_lake", "qd11_simhash_lake",
    "qt15_decontaminate_bloom", "qt16_boilerplate_removal",
    // round-10 additions: the release-check composite (persisted
    // cleaned table feeding three consumers), the hot-band-capped
    // minhash arm (size filter must be an aggregate + equi-join,
    // never a giant window), and the real resample stage
    "qx4_clean_release", "qd12_minhash_capped", "qm6_resize",
    "qs15_lsh_neardup_capped",
    // BM25 retrieval (term filter must ride map-side BEFORE the
    // postings exchange; df/stats broadcast; top-k must be
    // TakeOrderedAndProject) and the corpus n-gram survey (partial
    // hash agg + TakeOrderedAndProject, no global sort)
    "qt17_bm25_topk", "qt18_top_ngrams",
    // TF-IDF tagging: vocab-sized df join + per-doc window — the
    // window must partition by doc id only (no corpus-wide sort)
    "qt19_tfidf_keywords",
    // dictionary quality (vocab cut must be TakeOrderedAndProject
    // and the vocab attach a broadcast equi-join) and
    // cluster-balanced sampling (assignment rides the scan; sizes
    // and target are broadcast attaches, keep is map-only)
    "qt20_vocab_quality", "qs16_cluster_balanced",
    // z-order layout audit (z-value + prefix bucket must be pure
    // projection riding the scan — one agg exchange, no join) and
    // per-language trim (|langs|-row percentile table broadcast
    // back; the verdict map-only)
    "ql1_zorder_layout", "qt21_lang_quantile_trim",
    // the recipe composite: three aggregate subtrees broadcast
    // back onto doc-keyed equi-joins — no corpus-sized build side
    "qx5_corpus_recipe",
    // the embedding release composite: LSH pair graph + balanced
    // keep + PQ encode joined vec-keyed; encode must ride the
    // scan, the pair graph must stay bucket-equi-join
    "qx6_embedding_release",
    // round-11 additions: the serving ANN stack (cell assignment
    // and PQ encode must ride the corpus scan; query cells + ADC
    // tables broadcast; candidate join a cell equi-join — qs24's
    // corpus side must carry ONLY id/cell/codes), the bucketed
    // join (zero Exchange — also require()d in the row itself),
    // and the approx-percentile arm (sketch agg + broadcast
    // attach, same shape as qt21)
    "qs22_ivfpq_serving", "qs24_ivfpq_adc", "ql2_bucketed_join",
    "qt23_lang_trim_approx",
    // the lifecycle composite: its serving tail must be exactly
    // the qs24 shape (code-only corpus side, broadcast query
    // cells/ADC tables) with release membership folded into the
    // corpus-side scan, never a post-scoring filter
    "qx7_build_then_serve",
    // perceptual dedup: one decode pass (persisted), band-bucket
    // equi-join candidates, popcount verify — never an image byte
    // or a pairwise predicate through the join
    "qm8_image_phash_dedup", "qm9_audio_envelope_dedup",
    // PMI collocations: two partial-agg exchanges, min-support cut
    // before the joins, unigram table broadcast, TakeOrdered top-20
    "qt25_pmi_collocations",
    // round-12 additions: the capped media pairs (the cap must be
    // an aggregate + left_anti equi-join riding the persisted
    // fingerprint table, never a per-bucket window), the media
    // cluster contraction over them, the two-stage composite
    // (stage 1 is the deliberate broadcast popcount scan; stages
    // 2-3 must be id equi-joins with the float fetch LAST), and
    // tombstone serving (anti-join below the probe join, broadcast
    // tombstones)
    "qm10_image_dedup_capped", "qm12_media_dup_clusters",
    "qs29_two_stage", "qs30_tombstone_serving",
    "qx9_multimodal_release_neardup",
    // semantic decontamination must stay broadcast-eval + one
    // struct-max agg (no window); the domain cap must be the
    // bounded top-cap ObjectHashAggregate + threshold join-back
    // (no per-domain rank window — the Skew.capBuckets standard);
    // the web-corpus composite joins its subtrees doc-keyed with
    // no corpus-sized build side
    "qs31_semantic_decontamination", "qt27_domain_cap",
    "qx10_web_corpus_release",
    // round-13 additions: the PSL domain lookup must stay a
    // broadcast hash join (never a shuffled corpus); URL dedup is
    // one partial hash agg + a doc-keyed join back; the
    // domain-skew audit is two partial-agg folds; qs29's stage 1
    // must show the bounded ObjectHashAggregate and no Window
    // (ServingSpec pins it too — here it stays visible)
    "qt29_domain_skew_audit", "qt30_url_dedup",
    // the IVF-composed two-stage form must stay a cell equi-join
    // end-to-end — zero Cartesian/NLJ (ServingSpec pins it; here
    // the probe shape stays visible)
    "qs32_two_stage_ivf",
    // round-14 additions: BPE counting must ride the scan inside
    // whole-stage codegen (no UDF node, no extra exchange beyond
    // qt10's shard window in qt33); the full-PSL domain chain must
    // stay per-probe-length BROADCAST hash joins (qt26 — never a
    // shuffled corpus); exact-substring decon must be an anchor
    // equi-join with per-(pair, diagonal) windows (no corpus-wide
    // sort, no NLJ); the token-budget mixture is aggregate +
    // broadcast attaches + per-(stratum, shard) windows only
    "qt32_bpe_tokenize", "qt33_bpe_pack", "qt34_mixture_tokens",
    "qt35_exact_substring", "qt26_url_canonicalize",
    // the split-leakage audit is two partial-agg folds with a
    // 2-rows-per-domain explode between them — one exchange on
    // (domain), nothing corpus-sized after it; the decontamination
    // panel's three arms must each keep their documented shape
    // (anchor equi-join, broadcast signature probe, eval-sized
    // broadcast cross join) with the flag attach as three
    // broadcast-able left joins on the train slice
    "qt36_split_leakage_audit", "qx12_decontamination_panel",
    // span excision = the qt35 chain + a doc-keyed left attach +
    // a per-row positional lambda filter — no token explode on
    // the corpus side, no NLJ; the intra-doc form is ONE gram
    // pass (positions grouped per (doc, gram), pairs unfolded
    // from the sorted array — no self-join) with per-(doc,
    // diagonal) windows only
    "qt37_span_excision", "qt38_intra_doc_excision",
    // round-15 additions: the cross-doc ExactSubstr form is ONE
    // gram pass (positions grouped per gram across docs, ordered
    // pairs unfolded — no self-join) with per-(da, db, diagonal)
    // windows and the doc-keyed excision attach; the postings
    // audit is one gram explode + two double-folds off a persisted
    // occurrence table; the pre-tokenized arm is two codegen count
    // expressions riding ONE scan — no join, no extra exchange
    "qt40_cross_doc_dedup", "qt41_postings_audit",
    "qt42_bpe_pretokenized",
    // round-16 additions: the n-gram-LM rows — model attaches
    // must stay broadcast equi-joins on (lang, gram) keys over
    // the persisted count subtrees, the per-doc mean a plain
    // two-phase HashAggregate (the fixed-point sum — NOT an
    // ObjectHashAggregate, which would mean the ordered-fold
    // form crept back), and the tertile thresholds a sample-
    // sized window + broadcast lang attach; the fertility audit
    // is two codegen count expressions riding one spread scan
    // into a |lang|-row aggregate
    "qt43_ngram_lm_score", "qt44_lm_tertile_gate",
    "qt45_tokenizer_fertility",
    // round-17 additions: DSIR scoring must be a pure codegen
    // expression riding the corpus scan (plan-literal ratio LUT,
    // no join) with the min/max normalizer a 1-row broadcast
    // attach and ONE exploded count exchange in the fit
    "qt47_dsir_resample",
    // the temperature-mixture attach must stay ONE broadcast
    // equi-join on the docs scan with the keep a codegen hash
    // threshold — its first cut derived shares IN-PLAN and
    // repeated the size-aggregate subtree under four consumers
    // (BENCH_LOCAL r17: 0.96 → 0.73s after the fold to one
    // aggregate + driver arithmetic); an Aggregate node beyond
    // the single size fit means that regression crept back
    "qt48_temperature_mixture",
    // round-18 additions: the full curation release must keep all
    // SIX verdict subtrees doc-keyed (content, provenance and the
    // LM gate plus classifier margin / DSIR draw / mixture attach — each a slim
    // (doc_id, boolean) projection into a hash join, no
    // corpus-sized build side anywhere); the refit-recovery row's
    // two serving arms must both be the qs24 shape (assignment +
    // codes riding the scans, candidate join a cell equi-join,
    // broadcast query cells/ADC tables) — a re-encode that
    // shuffles means the map-only refit claim broke
    "qx14_curation_release", "qs35_refit_recovery",
    "qs36_refit_lloyd")
  // (qt46_trained_quality_classifier is deliberately absent for
  // the qt39 reason: its body RUNS K gradient-aggregate rounds —
  // a fit, not a lazy plan; the serving fold it ends in is the
  // qt28 shape, whose plan IS watched, and ClassifierSpec pins
  // the fold equivalence)
  // (qst19_stream_quality_drift: a windowed streaming aggregate —
  // absent for the qst16 reason; the drift arithmetic is pinned
  // closed-form by its own oracle)
  // (qst20_stream_mixture_gate: a stream-static broadcast attach —
  // absent for the qst21 reason; the attach IS qt48's watched
  // plan (shared Mixture.attachTargets) and the mirror is pinned
  // by the shared qt48 oracle)
  // (qt39_bpe_train is deliberately absent: its body RUNS k
  // driver-argmax rounds — a fit, not a lazy plan; its shape is
  // documented on BpeTrain and pinned by BpeTrainSpec)
  // (qst16_stream_doc_lake: a stream writing a temp lake — absent
  // for the ql5 reason)
  // (qst21_stream_dsir_frozen: stateless typed-map scoring inside a
  // stream — no lazy batch plan to render; the mirror contract is
  // pinned by MirrorPropertySpec and the shared qt47 oracle)
  // (ql8_training_shard_lake and ql9_packed_sequences are
  // deliberately absent for the same reason as ql5: their bodies
  // write and rewrite temp lakes)
  // (ql5_index_roundtrip is deliberately absent: its body WRITES a
  // temp lake before serving — Explain would leave one behind)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else defaultQueries
    val spark = Session.local("graft-explain", SparkEntry.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
