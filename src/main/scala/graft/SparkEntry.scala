package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AdvancedQueries, CoreQueries, DataOpsQueries, ExtraQueries, QueryDef}

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named
  * query over /root/testdata/sf* plus (where SQL-expressible) a DuckDB
  * oracle. Query modules register themselves in `all`.
  */
object SparkEntry {

  private def all: Seq[QueryDef] =
    CoreQueries.defs ++ DataOpsQueries.defs ++ ExtraQueries.defs ++
      AdvancedQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. q32 runs the reference's whole analytic core — PIT
    * identity, as-of alignment, factor cumprods, anchor-to-last, split
    * and TR application — through graft.adjust in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q32_adjusted_close")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** Rows retired from the BENCH set only — every one still runs in
    * the correctness gate (graft.Verify + the DuckDB oracle) each
    * round. Retirement principle: a row leaves the bench when its
    * operator is strictly contained in a superior SHIPPING row that
    * stays benched, so the bench measures the surface a user deploys
    * rather than re-timing each rung of a design ladder whose lesson
    * is already recorded (BENCH_LOCAL r18 has the measured floor
    * arithmetic for this exact set). The ANN design ladder that led to
    * the qs22/qs24/qs28/qs29 serving rows (int8, PQ bit budgets,
    * residual IVF-PQ, binary Hamming, float-IVF recall sweeps) was
    * deleted outright; COVERAGE.md keeps each rung's measured lesson.
    *  - qs4 — single-table LSH, superseded by multi-table qs5 (and
    *    the qs6/qs15 near-dup forms); kept as the only oracle of
    *    `Similarity.lshTopK`, SimilaritySpec's single-table baseline;
    *  - qs27 — its frozen-model serving chain is qs35's frozen arm
    *    verbatim, re-measured there each round;
    *  - qx11/qx13 — strict subtrees of the full curation release qx14
    *    (all three still gate-checked, so the composites cannot
    *    drift apart silently);
    *  - qt46 — its train + margin-serve chain runs VERBATIM (twice)
    *    inside qt49's frozen arm, which also measures it every round;
    *  - qs34 — its occupancy fold and integer refit verdict run
    *    VERBATIM inside qst22 (the per-append streaming form, same
    *    oracle), which is the shape production actually schedules;
    *  - qst18 — its stream scoring path is qst21's with the
    *    full-corpus fit predicate, the form SCALING.md's own note
    *    says a real crawl edge replaces with the sample-frozen fit;
    *  - qx14 — its entire six-arm verdict runs VERBATIM inside qx15
    *    (curationRelease is one shared function), which additionally
    *    materializes the kept set as the shard-lake artifact and
    *    reads it back — the release a user actually ships. The
    *    verdict flags stay oracle-checked on qx14's own gate row
    *    every round;
    *  - qt49 — both of its GD train chains (spread → prepareQuality →
    *    trainQuality, pre-drift and drifted) run VERBATIM inside
    *    qst24, which serves the swap those weights exist for (the
    *    qt46 → qt49 precedent one level up); the dual frozen-vs-
    *    retrained eval stays oracle-checked on qt49's own gate row;
    *  - qst17 — its frozen-LM stream-scoring chain (the %5-slice
    *    NgramLm.trainLocal fit, the per-doc scoreLocal calls over the
    *    same 500 dressed (id, lang, text2) triples) runs VERBATIM
    *    inside qst23's admission map; the score VALUES stay
    *    hash-pinned on qst17's own gate row;
    *  - ql7/ql10 — their batch folds (DocLake.refreshAndAppend,
    *    Pack.packSequences-per-segment) run VERBATIM per micro-batch
    *    inside their streamed twins qst16/qst15, whose oracles are
    *    the batch rows' SQL verbatim (the qs34 → qst22 precedent:
    *    the stream form is where production schedules the fold);
    *  - qx16 — both of its verdict arms and the lineageDiff run
    *    VERBATIM inside qx17 (shared helpers), which additionally
    *    persists the N-1 verdict as the manifest-lake artifact and
    *    diffs from the READ-BACK — the shape production lineage
    *    actually runs (the qx14 → qx15 precedent applied to the
    *    lineage row); the in-memory diff stays oracle-checked on
    *    qx16's own gate row every round.
    */
  /** Each retired row mapped to the BENCHED superior whose execution
    * contains it (the rationale above, made checkable): a superior
    * must itself never be retired — a later retirement of a superior
    * would silently orphan the containment claim, so SparkEntrySpec
    * asserts every value below is a registered, still-benched query.
    * Where a containment chain collapsed (qx11 ⊂ qx13 ⊂ qx14 ⊂ qx15;
    * qt46 ⊂ qt49 ⊂ qst24), the map names the benched END of the
    * chain.
    */
  val benchRetiredInto: Map[String, String] = Map(
    "qs4_lsh_topk" -> "qs5_lsh_multi_topk",
    "qs27_incremental_index" -> "qs35_refit_recovery",
    "qs34_index_health_audit" -> "qst22_stream_index_health",
    "qt46_trained_quality_classifier" -> "qst24_stream_model_swap",
    "qst18_stream_dsir" -> "qst21_stream_dsir_frozen",
    "qx11_full_release" -> "qx15_release_to_lake",
    "qx13_release_with_quality" -> "qx15_release_to_lake",
    "qx14_curation_release" -> "qx15_release_to_lake",
    "qt49_retrain_on_drift" -> "qst24_stream_model_swap",
    "qst17_stream_lm_score" -> "qst23_stream_admission",
    "ql7_doc_lake_maintenance" -> "qst16_stream_doc_lake",
    "ql10_packed_lake_append" -> "qst15_stream_packed_lake",
    "qx16_release_lineage" -> "qx17_lineage_from_artifact")

  val benchRetired: Set[String] = benchRetiredInto.keySet

  /** The benched (shipping-surface) subset of [[queries]]. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries.filterNot { case (name, _) => benchRetired(name) }

  /** `SPARK_GRAFT_CPUS` as a positive core count, or 4 when it is
    * unset. Any other value ("", "*", "0", "4c") throws: a bad value
    * must not silently pick another core count or another record file.
    */
  def cpus(env: Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_CPUS", 4)

  /** `SPARK_GRAFT_REPEATS`, Bench's per-row sample count (default 1),
    * parsed like [[cpus]]: "three" or "0" throws rather than silently
    * running one repeat.
    */
  def repeats(env: Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_REPEATS", 1)

  /** The env variable `key` as a positive Int, or `default` when it is
    * unset; any other value throws.
    */
  private def positiveInt(env: Map[String, String], key: String,
      default: Int): Int =
    env.get(key).fold(default) { s =>
      s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$s'"))
    }

  /** The `SPARK_GRAFT_ONLY` query filter of Verify and Bench, or None
    * when it is unset or holds no entry. The value is a comma-separated
    * list of names; an entry ending in `*` matches every name with
    * that prefix (`qst*`). Entries are trimmed and blanks dropped, so
    * "a, b" matches b and an all-comma value means "no filter" rather
    * than "run nothing". `scripts/selfcheck.py --only` expands entries
    * the same way.
    */
  def onlyFilter(env: Map[String, String] = sys.env)
      : Option[String => Boolean] =
    env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .map(entries => (name: String) => entries.exists(onlyMatches(_, name)))

  /** One `SPARK_GRAFT_ONLY` entry against a query name: `prefix*`
    * matches by prefix, anything else by the exact name.
    */
  private def onlyMatches(entry: String, name: String): Boolean =
    if (entry.endsWith("*")) name.startsWith(entry.dropRight(1))
    else name == entry

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
