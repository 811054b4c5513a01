package graft.sim

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest neighbor: partition the corpus into
  * coarse cells (k-means centroids), search only the `nprobe` cells
  * nearest each query. The 100 TB shape: centroids are tiny and
  * broadcast; the corpus is scanned once to assign cells and the
  * candidate join is an equi-join on cell id — no cross join anywhere.
  *
  * Training is deterministic: seed centroids are the lowest-id vectors,
  * refined by a fixed number of Lloyd iterations on a bounded sample
  * collected to the driver (centroid count × dims is KBs).
  */
object Ivf {

  case class Model(centroids: Array[Array[Double]]) {
    def nearest(v: Array[Float], n: Int): Seq[Int] =
      centroids.indices
        .map(c => (c, Ivf.l2sq(centroids(c), v)))
        .sortBy { case (c, d) => (d, c) }
        .take(n).map(_._1)
  }

  private[sim] def l2sq(c: Array[Double], v: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < c.length) { val t = c(i) - v(i); d += t * t; i += 1 }
    d
  }

  /** Fit k centroids: seeds = vectors with the k lowest ids, then
    * `iters` Lloyd steps over a sample of at most `maxSample` vectors
    * (lowest ids — deterministic).
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 3, maxSample: Int = 4096): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .orderBy(col(idCol)).limit(maxSample).collect()
    require(sample.length >= k, s"need >= $k vectors to fit, got ${sample.length}")
    var centroids = sample.take(k).map(_._2.map(_.toDouble))
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](centroids(0).length))
      val counts = new Array[Int](k)
      sample.foreach { case (_, v) =>
        val c = centroids.indices.minBy(ci => (l2sq(centroids(ci), v), ci))
        counts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    Model(centroids)
  }

  /** Assign every corpus vector to its nearest cell — a codegen column
    * inside the corpus scan ([[graft.functions.NearestCell]], same
    * (distance, index) tie rule as [[Model.nearest]]). The previous
    * typed map + re-join shuffled the full corpus twice; at lake scale
    * assignment must ride the scan.
    */
  def assign(corpus: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame =
    graft.ops.Partitioning.spread(corpus).withColumn("cell",
      graft.functions.NearestCell.nearest_cell(col(vecCol), model.centroids))

  /** Cluster-balanced sampling — the embedding-space data-mixing step
    * of a corpus build: assign every vector to its nearest fitted
    * centroid, then keep each one with probability target/|cell| where
    * target is the SMALLEST cell's population, so every cluster
    * contributes equally to the sample (the cluster-level analogue of
    * [[graft.text.TextOps.stratifiedKeep]]'s per-language rates, with
    * the strata discovered by k-means instead of given).
    *
    * Scale shape: assignment rides the corpus scan (codegen
    * [[graft.functions.NearestCell]]), cell sizes are a k-row
    * aggregate joined back by broadcast, the target is a one-row
    * broadcast, and the keep decision is a salted id-hash threshold —
    * map-only, no RNG, no corpus-sized state, reproducible across
    * runs and engines. The "cluster:" salt decorrelates the sample
    * from hashSplit / stratifiedKeep buckets built from the same ids.
    *
    * Output: (idCol, cell, cell_n, keep), one row per corpus vector.
    */
  def balancedSample(corpus: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame = {
    val assigned = assign(corpus, idCol, vecCol, model)
      .select(col(idCol), col("cell"))
    val sizes = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_n"))
    val target = sizes.agg(min(col("cell_n")).as("target_n"))
    assigned
      .join(broadcast(sizes), Seq("cell"))
      .crossJoin(broadcast(target))
      .select(col(idCol),
        col("cell").cast("int").as("cell"),
        col("cell_n").cast("int").as("cell_n"),
        (graft.text.TextOps.hash60(
            concat(lit("cluster:"), col(idCol).cast("string")))
          % col("cell_n") < col("target_n")).as("keep"))
  }

  /** ANN top-k with cell assignment on `vecCol` but scoring over a
    * SEPARATE representation column `scoreCol` — the production IVF
    * layout: the coarse quantizer lives in float space (fixed at index
    * build), while the vectors actually held in memory are compressed
    * (a PQ reconstruction in qs22, SQ8 in qs28). Assignment quality is
    * float-grade; only the in-cell ranking pays the quantization
    * error. (Running assignment on the codes themselves measurably
    * scrambles cells: a per-vector int8 scale distorted L2 geometry
    * whatever the input norms, recall 0.4 against 0.9 with float
    * cells — COVERAGE.md keeps the measurement.)
    */
  def topKOn(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, scoreCol: String,
      qIdCol: String, qVecCol: String,
      model: Model, k: Int, nprobe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val corpusCells = assign(corpus, idCol, vecCol, model)
      .select(col(idCol), col(scoreCol), col("cell"))
    val queryCells = queries
      .select(col(qIdCol).cast("long"), col(qVecCol))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) => bc.value.nearest(qv, nprobe).map(c => (qid, c)) }
      .toDF(qIdCol, "cell")
      .join(queries, qIdCol)
    val scored = corpusCells.join(broadcast(queryCells), "cell")
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        Similarity.cosine(col(scoreCol), col(qVecCol)).as("cosine"))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The model's centroids as a plan literal (k×dim doubles — KBs;
    * foldable, so Catalyst collapses it to one Literal). Index with
    * `element_at(centroidsLit(m), cell + 1)`.
    */
  def centroidsLit(model: Model): org.apache.spark.sql.Column =
    array(model.centroids.map(c => array(c.map(x => lit(x)): _*)): _*)

  /** The full production IVF-PQ serving plan: coarse cells assigned in
    * float space, partial probe, and ADC lookup-table scoring over the
    * PQ CODE column — the corpus side of the candidate join carries
    * only (id, cell, m-byte codes), never a float vector or a
    * reconstruction, and each query ships its KB-sized ADC tables
    * ([[Pq.withAdcTables]]) through the broadcast. Per candidate the
    * score is m lookups + m−1 adds. Rank-identical to [[topKOn]]
    * scoring a [[Pq.reconstruct]] column (qs22; the ADC ≡
    * reconstruction contract PqSpec pins), at a fraction of the
    * shuffled width.
    */
  def topKAdc(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      model: Model, pq: Pq.Model, k: Int, nprobe: Int): DataFrame =
    topKAdcOnIndex(
      assign(corpus, idCol, vecCol, model)
        .select(col(idCol), Pq.codes(col(vecCol), pq).as("codes"),
          col("cell")),
      queries, idCol, qIdCol, qVecCol, model, pq, k, nprobe)

  /** [[topKAdc]] over a PREBUILT (idCol, cell, codes) index table —
    * the entry point a production serving system actually calls: the
    * index is a stored artifact (qx6's release output, or an existing
    * index unioned with a freshly-encoded arrival batch — incremental
    * maintenance is map-only encode + append, never a re-encode of
    * existing codes).
    */
  def topKAdcOnIndex(
      index: DataFrame, queries: DataFrame,
      idCol: String, qIdCol: String, qVecCol: String,
      model: Model, pq: Pq.Model, k: Int, nprobe: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val qTabs = Pq.withAdcTables(queries, qIdCol, qVecCol, pq)
      .select(col(qIdCol), col("adc_lut"), col("adc_qnsq"))
    val queryCells = queries
      .select(col(qIdCol).cast("long"), col(qVecCol))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) => bc.value.nearest(qv, nprobe).map(c => (qid, c)) }
      .toDF(qIdCol, "cell")
      .join(qTabs, qIdCol)
    val scored = index.join(broadcast(queryCells), "cell")
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("neighbor_id"),
        Pq.adcCosine(col("codes"), col("adc_lut"), col("adc_qnsq"), pq)
          .as("cosine"))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[topKAdcOnIndex]] over a RETRACTION set — the deletion story the
    * append-only incremental index (qs27) leaves open: when released
    * docs are later retracted (the qx6→qx7 lifecycle makes this
    * reachable), serving must never return them, and a 100 TB index is
    * not re-built to forget 0.1% of its rows. The tombstone table
    * (idCol only — 8 B/row) anti-joins the code index BEFORE the probe
    * join, so retracted codes never enter the candidate shuffle; with
    * a dim-sized tombstone set AQE broadcasts the anti-join and the
    * cost is one map-side hash probe per index row. The index artifact
    * itself stays immutable — tombstones are the mutable (and tiny)
    * part, folded into the index lake only by the scheduled
    * [[compactTombstones]] rebuild. qs30 measures the recall effect of
    * serving around the holes; IvfSpec pins that no tombstoned id is
    * ever served.
    */
  def topKAdcOnIndexWithTombstones(
      index: DataFrame, tombstones: DataFrame, queries: DataFrame,
      idCol: String, qIdCol: String, qVecCol: String,
      model: Model, pq: Pq.Model, k: Int, nprobe: Int): DataFrame =
    topKAdcOnIndex(
      index.join(tombstones.select(col(idCol)), Seq(idCol), "left_anti"),
      queries, idCol, qIdCol, qVecCol, model, pq, k, nprobe)

  /** The scheduled tombstone COMPACTION the serve-time anti-join
    * ([[topKAdcOnIndexWithTombstones]]) defers to: fold the tombstone
    * set into the cell-partitioned index lake (ql5's stored artifact)
    * so the tombstone table can be emptied and serving returns to the
    * plain [[topKAdcOnIndex]] path. Returns the number of index rows
    * removed.
    *
    * Scale shape: (1) ONE projection-pruned scan of the index's
    * (id, cell) columns joined against the tombstone ids finds the
    * AFFECTED cells — the only full pass, and it reads 12 B/row of a
    * 24 B/row artifact on a compaction schedule, not per query;
    * (2) only the affected `cell=` partitions are re-read (hive
    * partition pruning via explicit paths, the ql4 Compact pattern),
    * anti-joined against the broadcast tombstone ids, and (3)
    * rewritten in place via dynamic partition overwrite — untouched
    * cells are never rewritten, and the rewrite is the same
    * one-file-per-partition layout the original write used. A cell
    * whose every row is tombstoned would vanish from the written set
    * and dynamic overwrite would leave its stale files — that cell's
    * directory is deleted explicitly (a driver FS metadata op, same
    * class as Compact.fragmented's walk). Affected-cell discovery
    * collects only cell ids — bounded by the model's k (KB driver
    * fit).
    */
  def compactTombstones(spark: SparkSession, indexRoot: String,
      tombstones: DataFrame, idCol: String): Long = {
    import org.apache.hadoop.fs.Path
    val tomb = tombstones.select(col(idCol))
    val affected = spark.read.parquet(indexRoot)
      .select(col(idCol), col("cell"))
      .join(broadcast(tomb), idCol)
      .select(col("cell")).distinct()
      .collect().map(_.get(0).toString).sorted
    if (affected.isEmpty) return 0L
    val paths = affected.map(c => s"$indexRoot/cell=$c")
    val slice = spark.read.option("basePath", indexRoot)
      .parquet(paths.toSeq: _*)
    val removed = slice.join(broadcast(tomb), Seq(idCol), "left_semi").count()
    val kept = slice.join(broadcast(tomb), Seq(idCol), "left_anti")
    val keptCells = kept.select(col("cell")).distinct()
      .collect().map(_.get(0).toString).toSet
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // one output file per rewritten cell — the Compact policy; the
      // slice was read from many small files, the rewrite heals that
      kept.repartition(col("cell"))
        .write.mode(SaveMode.Overwrite)
        .option("compression", "zstd")
        .partitionBy("cell").parquet(indexRoot)
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    // fully-tombstoned cells wrote no partition — drop their dirs
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    affected.filterNot(keptCells).foreach { c =>
      fs.delete(new Path(s"$indexRoot/cell=$c"), true)
    }
    removed
  }

  /** The qs24 end-state serving plan deployed against a STREAM of
    * queries — ANN-as-a-service on Structured Streaming. `index` is
    * the STATIC prebuilt artifact (idCol, cell, codes) — exactly what
    * [[topKAdc]]'s corpus side carries and what qx6's release
    * composite emits; `queries` is a streaming DataFrame carrying
    * (qIdCol, qVecCol, tsCol).
    *
    * Per micro-batch: one typed flatMap expands each query into its
    * `nprobe` probed cells AND builds its m×k ADC tables
    * ([[Pq.adcTablesFor]] — the flatMap must carry the event-time
    * column, which [[Pq.withAdcTables]]' DataFrame form drops); the
    * candidate lookup is a stream-static equi-join on cell against the
    * code-only index (16 B/row at m=16 — never a float vector);
    * scoring is the same m-lookup ADC fold as the batch path; and
    * top-k extraction is a windowed aggregate (streaming forbids rank
    * windows) — collect the candidate list per (window, query), sort
    * by (−cosine, neighbor) and slice k, the exact order [[topKAdc]]'s
    * row_number uses. State is per in-flight (window × query) candidate
    * lists, watermark-bounded — never the corpus.
    *
    * Output: (qIdCol, topk array<struct<negc,neighbor_id>>) per
    * flushed window; explode + `pos+1` gives (query, neighbor, rank)
    * rows identical to the batch plan's (IvfSpec pins it).
    */
  def serveAdcStream(index: DataFrame, queries: DataFrame,
      idCol: String, qIdCol: String, qVecCol: String, tsCol: String,
      model: Model, pq: Pq.Model, k: Int, nprobe: Int,
      windowDur: String = "1 hour", watermarkDelay: String = "1 hour")
      : DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val bcCells = spark.sparkContext.broadcast(model)
    val bcPq = spark.sparkContext.broadcast(pq)
    val probed = queries
      .select(col(qIdCol).cast("long"), col(qVecCol), col(tsCol))
      .as[(Long, Array[Float], java.sql.Timestamp)]
      .flatMap { case (qid, qv, ts) =>
        val (lut, _, qn) = Pq.adcTablesFor(qv, bcPq.value)
        bcCells.value.nearest(qv, nprobe).map(c => (qid, c, lut, qn, ts))
      }
      .toDF(qIdCol, "cell", "adc_lut", "adc_qnsq", tsCol)
    probed
      .withWatermark(tsCol, watermarkDelay)
      .join(index, Seq("cell"))
      .filter(col(idCol) =!= col(qIdCol))
      // A zero-norm query has no defined cosine, and under ANSI SQL
      // the division throws — guard INSIDE the projection (CaseWhen
      // evaluates only the matched branch) rather than filtering the
      // row out: a deterministic filter would be pushed below the
      // EventTimeWatermark node, silently dropping a zero-vector
      // sentinel before its timestamp ever advances the watermark
      // (measured: no window ever flushed). In the replay harness the
      // null-scored rows land in the sentinel's own never-flushed
      // window; in a CONTINUOUS deployment that window can flush once
      // later queries advance the watermark — so null-cosine
      // candidates are additionally excluded from the collected list
      // (collect_list skips null elements): an unscorable query that
      // flushes emits topk = [], never k id-ordered neighbors with
      // undefined scores. State stays bounded either way.
      .select(col(qIdCol), col(tsCol), col(idCol).as("neighbor_id"),
        when(col("adc_qnsq") > 0,
          Pq.adcCosine(col("codes"), col("adc_lut"), col("adc_qnsq"), pq))
          .as("cosine"))
      .groupBy(window(col(tsCol), windowDur), col(qIdCol))
      .agg(slice(array_sort(collect_list(when(col("cosine").isNotNull,
        struct(negate(col("cosine")).as("negc"), col("neighbor_id"))))),
        1, k).as("topk"))
      .select(col(qIdCol), col("topk"))
  }

  /** ANN top-k: probe the `nprobe` nearest cells per query, exact cosine
    * rank within candidates. With nprobe == k (all cells) this equals
    * the brute-force result.
    */
  def topK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qIdCol: String, qVecCol: String,
      model: Model, k: Int, nprobe: Int): DataFrame =
    // the float-everywhere special case of topKOn — ONE copy of the
    // probe-expansion/candidate-join/window plan to keep correct
    topKOn(corpus, queries, idCol, vecCol, vecCol, qIdCol, qVecCol,
      model, k, nprobe)
}
