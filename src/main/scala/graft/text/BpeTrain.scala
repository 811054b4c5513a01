package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** In-engine distributed BPE TRAINING — the missing head of the
  * train → tokenize → pack → meter chain ([[Bpe]] encodes with a
  * table; this LEARNS one from the corpus being curated, the way a
  * production pipeline trains its vocab on its own data).
  *
  * Algorithm (Sennrich et al. 2016, the same loop as
  * scripts/train_bpe.py — BpeTrainSpec pins the two equal on the
  * corpus the bundled fixture table was trained from): start from one
  * token per codepoint of the normalized text; each round counts ALL
  * adjacent token pairs corpus-wide (overlapping occurrences included
  * — "aaa" counts (a,a) twice), learns the argmax pair with ties
  * broken by lexicographically smallest (left, right), applies it as
  * one left-to-right non-overlapping sweep to every document, and
  * repeats. Stops at `k` merges or when the best count drops below 2.
  *
  * Distributed shape: the corpus state lives as one delimiter-encoded
  * string per document — tokens joined by `||` and flanked by `|`,
  * exactly the representation the DuckDB oracles sweep — so applying
  * a learned merge is ONE codegen `replace` per row (replacing
  * `|l||r|` with `|lr|` IS the left-to-right non-overlapping sweep),
  * and pair counting is split + explode + count. Each round is one
  * aggregate pass over the state plus a driver-side argmax of ONE row
  * — the bounded-iteration fit shape of the unrolled-Lloyd rows
  * (qs16, qs36). Round state is cut from its lineage with a
  * `localCheckpoint()` per round (lazy — it materializes inside the
  * next round's aggregate job) — the dupClusters iteration lesson,
  * which here bites through the CACHE MANAGER rather than the plan
  * tree: a persist() chain of k states makes every state's cache
  * entry embed its whole ancestry, and unpersisting them triggers
  * O(k²) dependent-entry rebuilds, each re-rendering deep plan
  * strings (measured: the 20-round persist form spent 10+ minutes
  * inside CacheManager.recacheByCondition/TreeNode.treeString on a
  * 150 KB corpus). Checkpointed rounds are LogicalRDD leaves: nothing
  * cascades, nothing re-renders.
  *
  * At 100 TB the per-round cost is one corpus scan + a pair-cardinality
  * shuffle (alphabet² bounded early, vocab-bounded later) — the one
  * genuinely iterative corpus-scale operator in a training-data
  * pipeline; production trains on a corpus SAMPLE for exactly that
  * reason (the caller chooses the slice; the loop is the same).
  *
  * Delimiter contract (shared with the oracle CTEs): `|` must not
  * occur in the corpus alphabet — boundaries would be ambiguous in
  * both engines identically, which the gate could never catch — so
  * trainLoop ENFORCES it with a raise_error branch riding the
  * state-build projection (the same loudness as bpeCteSql's
  * require()d '|'-free fixture table).
  *
  * Reference basis: none — north-star capability; algorithm public
  * (arXiv:1508.07909).
  */
object BpeTrain {

  /** Learn up to `k` merges from `docs(textCol)`; returns the learned
    * table as a local-relation DataFrame (rank INT, left_tok,
    * right_tok, n_pair BIGINT) ordered by rank — k rows of driver-side
    * state, the model-fit result class.
    */
  def trainMerges(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, "need at least one merge")
    val spark = docs.sparkSession
    // k rounds of dim-sized aggregates: AQE's stage-by-stage execution
    // turns each round into several driver-job round trips, and a
    // core-count shuffle fan-out schedules empty reduce tasks — both
    // pure fixed cost here (measured ~half the fit). Pin them low for
    // the fit's duration and restore (the runAvailableNow pattern); a
    // corpus-scale caller re-enables by partitioning its input and
    // session accordingly.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      trainLoop(docs, textCol, k)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  private def trainLoop(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    // Partitioning: the per-ROUND cost of this operator is k× the
    // fixed cost of one aggregate job, so state parallelism follows
    // DATA volume, not core count — a full spread() to 32 near-empty
    // partitions spends 20 rounds × stages × 32 task launches on pure
    // scheduling (measured 6.1 s vs 2.4 s at 8 partitions on the
    // fixture slice), while one partition leaves the split/pair walk
    // single-core. 8 is the measured knee for dim-sized fits; a lake-
    // scale caller's input arrives already partitioned by volume and
    // the repartition is then a near-no-op coalesce target.
    // Delimiter contract ENFORCED, not just documented (bpeCteSql
    // require()s its fixture table is '|'-free; the trainer must be
    // equally loud): a corpus doc containing '|' would make state
    // boundaries ambiguous in both engines IDENTICALLY — the gate
    // could never catch the corruption — so fail fast on the first
    // offending row. The guard rides the state-build projection
    // itself (a `when` branch of the consumed expression, codegen,
    // zero extra pass over the corpus).
    val pre = docs
      .select(TextOps.norm(col(textCol)).as("n"))
      .filter(col("n") =!= "")
      .select(concat(lit("|"),
        concat_ws("||", filter(split(
          when(col("n").contains("|"), raise_error(concat(
            lit("BpeTrain delimiter contract violated: normalized " +
              "corpus text contains '|' (excerpt: "),
            substring(col("n"), 1, 40), lit(")"))).cast("string"))
            .otherwise(col("n")), ""), t => length(t) > 0)),
        lit("|")).as("s"))
    // a floor, never a target: a volume-partitioned corpus keeps its
    // own parallelism
    var st = (if (pre.rdd.getNumPartitions >= 8) pre else pre.repartition(8))
      .localCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var i = 0
    var stop = false
    while (i < k && !stop) {
      // adjacent pairs via arrays_zip over two shifted slices — plain
      // codegen expressions end to end (a transform/struct HOF here is
      // CodegenFallback: ~0.2 s/round of interpreted lambda on a
      // 150 KB state, k× that per fit)
      val best = st
        .select(split(expr("substring(s, 2, length(s) - 2)"), "\\|\\|").as("t"))
        .filter(size(col("t")) > 1)
        .select(explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1))).as("p"))
        .select(col("p").getField("0").as("l"), col("p").getField("1").as("r"))
        .groupBy(col("l"), col("r"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < 2L) stop = true
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        learned += ((i, l, r, n))
        // lazy: the checkpoint materializes inside the NEXT round's
        // aggregate job (one job per round, not two); lineage is still
        // cut before any plan builds on it
        st = st.select(replace(col("s"),
            lit("|" + l + "||" + r + "|"), lit("|" + l + r + "|")).as("s"))
          .localCheckpoint(eager = false)
        i += 1
      }
    }
    // superseded checkpointed RDDs (slim, shrinking) are reclaimed by
    // the ContextCleaner once unreferenced — nothing to unpersist
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      learned.toSeq.map { case (i, l, r, n) => Row(i, l, r, n) }.asJava,
      StructType(Seq(StructField("rank", IntegerType),
        StructField("left_tok", StringType),
        StructField("right_tok", StringType),
        StructField("n_pair", LongType))))
  }
}
