package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NearestCell

/** Product quantization — the production ANN compression beyond int8:
  * split each vector into `m` contiguous subspaces, learn a tiny
  * per-subspace codebook, and store each vector as `m` small code ids
  * (64 floats → 16 bytes at the serving m=16, k=256). Serving scores
  * queries against the RECONSTRUCTION (codebook entry per subspace,
  * concatenated) — for L2 this is exactly the classic ADC lookup-table
  * sum, since ||q - x̂||² = Σ_j ||q_j - x̂_j||², and for cosine the
  * same reconstruction dot product.
  *
  * Scale shape (the point at 100 TB): codebooks are m·k·subDim doubles
  * — KBs — living in the plan as literals; encode and reconstruct are
  * per-row expressions riding the corpus scan (the per-subspace
  * nearest-code search is the same codegen [[NearestCell]] kernel the
  * IVF path uses, over a `slice` of the vector), so building the
  * compressed representation is map-only with no shuffle and no
  * driver-side corpus state.
  *
  * Determinism (the QueryDef contract): the fit is the seed-codebook
  * analogue of [[Ivf.fit]] with iters=0 — codebook j is the j-th
  * subvectors of the k lowest-id vectors, verbatim. Reconstruction
  * values are therefore original float32 corpus values (exactly
  * representable — no Lloyd averaging), which keeps the whole
  * encode → reconstruct → score chain closed-form in SQL. The
  * Lloyd-refined [[fitLloyd]] is oracled by unrolled SQL layers per
  * subspace (qs36); the serving-path semantics do not depend on it.
  */
object Pq {

  /** Per-subspace codebooks: codebooks(j)(c) is the c-th code vector
    * of subspace j, length `subDim`.
    */
  case class Model(subDim: Int, codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
  }

  /** Seed-codebook fit: codebook j = the j-th subvectors of the `k`
    * lowest-id corpus vectors (deterministic, driver-sized — k full
    * vectors). Requires the dimension to split evenly into `m`.
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Model = {
    require(m >= 1 && k >= 1, s"need m, k >= 1, got m=$m k=$k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .orderBy(col(idCol)).limit(k).collect()
    require(sample.length >= k, s"need >= $k vectors to fit, got ${sample.length}")
    val dim = sample.head._2.length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { j =>
      sample.map { case (_, v) =>
        v.slice(j * subDim, (j + 1) * subDim).map(_.toDouble)
      }
    }
    Model(subDim, books)
  }

  /** Lloyd-refined fit: seed codebooks ([[fit]]) refined by `iters`
    * k-means steps per subspace over a bounded sample (the `maxSample`
    * lowest-id vectors — deterministic, same contract as
    * [[Ivf.fit]]). Arithmetic mirrors Ivf.fit exactly so the oracle
    * can unroll it in SQL the qs16 way, per subspace (qs36): sequential
    * id-ordered float-into-double sums, one divide per dim, empty
    * codes keep their previous centroid.
    */
  def fitLloyd(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, maxSample: Int = 4096): Model = {
    require(m >= 1 && k >= 1 && iters >= 0,
      s"need m, k >= 1 and iters >= 0, got m=$m k=$k iters=$iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .orderBy(col(idCol)).limit(maxSample).collect()
    require(sample.length >= k, s"need >= $k vectors to fit, got ${sample.length}")
    val dim = sample.head._2.length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { j =>
      val subs = sample.map { case (_, v) =>
        v.slice(j * subDim, (j + 1) * subDim)
      }
      var cents = subs.take(k).map(_.map(_.toDouble))
      (0 until iters).foreach { _ =>
        val sums = Array.fill(k)(new Array[Double](subDim))
        val counts = new Array[Int](k)
        subs.foreach { v =>
          val c = cents.indices.minBy(ci => (Ivf.l2sq(cents(ci), v), ci))
          counts(c) += 1
          var i = 0
          while (i < subDim) { sums(c)(i) += v(i); i += 1 }
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents
    }
    Model(subDim, books)
  }

  /** The `m` code ids of `vec` (array<int>, one nearest-code search
    * per subspace — each a codegen [[NearestCell]] over a slice).
    */
  def codes(vec: Column, model: Model): Column =
    array((0 until model.m).map { j =>
      NearestCell.nearest_cell(
        slice(vec, j * model.subDim + 1, model.subDim),
        model.codebooks(j))
    }: _*)

  /** The PQ reconstruction x̂ of `vec`: per subspace, the chosen code
    * vector (a literal-array lookup), concatenated back to full
    * dimension. Scoring queries against x̂ IS ADC for L2/dot.
    */
  def reconstruct(vec: Column, model: Model): Column = {
    val parts = (0 until model.m).map { j =>
      val book = array(model.codebooks(j).map(code =>
        array(code.map(x => lit(x.toFloat)): _*)): _*)
      element_at(book,
        NearestCell.nearest_cell(
          slice(vec, j * model.subDim + 1, model.subDim),
          model.codebooks(j)) + 1)
    }
    concat(parts: _*)
  }

  // --------------------------------------------------------------------
  // ADC (asymmetric distance computation) — the production serving form:
  // score codes via per-subspace LOOKUP-TABLE sums instead of
  // materializing the reconstruction. Per query the table is m·k dot
  // products (KBs, computed ONCE on the small query side before the
  // candidate join); per (query, code) pair scoring is then m lookups +
  // m-1 adds — and, the point at 100 TB, the dim×4-bytes/row
  // reconstruction column never rides the candidate shuffle: only the
  // m-byte code column does.
  //
  // Numeric contract vs the reconstruction form ([[reconstruct]] +
  // Similarity.cosine): the dot is regrouped per subspace —
  // Σ_j (Σ_i q_ji·x̂_ji) instead of one flat ascending fold — so scores
  // agree to rounding (|Δ| ~ 1e-16 relative, PqSpec pins 1e-12 and
  // rank-identity), while L2, whose per-subspace regroup is exactly
  // ||q-x̂||² = Σ_j ||q_j-x̂_j||², is BIT-exact when both sides group by
  // subspace (PqSpec pins that too). Within each subspace and across
  // subspaces the fold is ascending with the j=0 term as seed — the
  // grouping the DuckDB list_reduce(list(... ORDER BY j)) oracle
  // reproduces bit-for-bit.
  //
  // Scope: the tables score against the codebooks' DOUBLE entries,
  // while [[reconstruct]] float-casts them. For seed-fit codebooks
  // (verbatim float32 corpus values — the qs22/qs24 serving
  // configuration) the cast is lossless and the two agree as stated;
  // for [[fitLloyd]] codebooks (averaged doubles) the ADC form is the
  // MORE precise of the two (no float truncation) and the 1e-12 pin
  // applies only to the seed fit.
  // --------------------------------------------------------------------

  /** Attach the per-query ADC tables to a (small) query frame:
    * `lutCol` = lut[j][c] = Σ_i asc q[j·subDim+i]·ce_i,
    * `distCol` = distSq[j][c] = Σ_i asc (q[j·subDim+i] − ce_i)²,
    * `qnsqCol` = Σ_i asc q_i² — all doubles, all ascending 0.0-seeded
    * folds. A typed map, deliberately NOT an unrolled Column
    * expression: m·k = thousands of subexpressions each referencing
    * the query vector blow up codegen (measured: broadcast-build OOM
    * at m=16×k=256), while the table as DATA is m·k doubles — KBs per
    * query row, built once at query time, exactly the classic ADC
    * serve-time table. The query side is small by contract (it is
    * broadcast into the candidate join).
    */
  def withAdcTables(queries: DataFrame, qIdCol: String, qVecCol: String,
      model: Model): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    queries.select(col(qIdCol).cast("long"), col(qVecCol))
      .as[(Long, Array[Float])]
      .map { case (qid, qv) =>
        val (lut, dist, qn) = adcTablesFor(qv, bc.value)
        (qid, qv, lut, dist, qn)
      }
      .toDF(qIdCol, qVecCol, "adc_lut", "adc_dist", "adc_qnsq")
  }

  /** One query's ADC tables (dot LUT, dist LUT, ‖q‖²) — the per-row
    * kernel behind [[withAdcTables]], shared with the streaming serve
    * path ([[Ivf.serveAdcStream]]) whose typed flatMap must carry the
    * event-time column through and so cannot reuse the DataFrame form.
    */
  private[sim] def adcTablesFor(qv: Array[Float], m: Model)
      : (Seq[Seq[Double]], Seq[Seq[Double]], Double) = {
    val lut = Array.tabulate(m.m, m.k) { (j, c) =>
      var s = 0.0; var i = 0
      while (i < m.subDim) {
        s += qv(j * m.subDim + i).toDouble * m.codebooks(j)(c)(i); i += 1
      }
      s
    }
    val dist = Array.tabulate(m.m, m.k) { (j, c) =>
      var s = 0.0; var i = 0
      while (i < m.subDim) {
        val d = qv(j * m.subDim + i).toDouble - m.codebooks(j)(c)(i)
        s += d * d; i += 1
      }
      s
    }
    var qn = 0.0; var i = 0
    while (i < qv.length) { qn += qv(i).toDouble * qv(i); i += 1 }
    (lut.map(_.toSeq).toSeq, dist.map(_.toSeq).toSeq, qn)
  }

  /** Query-independent code-norm table as a plan literal:
    * normSq[j][c] = Σ_i asc ce_i² (m·k doubles — KBs; foldable, so
    * Catalyst constant-folds it to one Literal, no codegen cost).
    */
  def adcNormSqLit(model: Model): Column =
    array((0 until model.m).map { j =>
      array(model.codebooks(j).map(code =>
        lit(code.foldLeft(0.0)((a, x) => a + x * x))): _*)
    }: _*)

  private def pick(tab: Column, codes: Column, j: Int): Column =
    element_at(element_at(tab, j + 1), element_at(codes, j + 1) + 1)

  /** ADC cosine of a code row against a query: codes is [[codes]]'
    * array<int>; dotLut/qNormSq come from [[withAdcTables]]
    * (`adc_lut`, `adc_qnsq`). m lookups + m−1 adds per candidate —
    * equals the reconstruction cosine to rounding (see the contract
    * above); no reconstruction is ever materialized.
    */
  def adcCosine(codes: Column, dotLut: Column, qNormSq: Column,
      model: Model): Column = {
    val nsq = adcNormSqLit(model)
    val num = (0 until model.m).map(pick(dotLut, codes, _)).reduceLeft(_ + _)
    val rn = (0 until model.m).map(pick(nsq, codes, _)).reduceLeft(_ + _)
    num / (sqrt(rn) * sqrt(qNormSq))
  }

  /** ADC squared L2 distance: Σ_j asc distLut[j][c_j] over
    * [[withAdcTables]]' `adc_dist`. Since ||q−x̂||² = Σ_j ||q_j−x̂_j||²
    * exactly — per-subspace difference squares, no expansion — this is
    * BIT-exact against a reconstruction distance computed with the
    * same per-subspace grouping (PqSpec pins it).
    */
  def adcL2Sq(codes: Column, distLut: Column, model: Model): Column =
    (0 until model.m).map(pick(distLut, codes, _)).reduceLeft(_ + _)
}
