package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mixture targeting — the corpus-recipe step of a training-data
  * build: given target proportions per stratum (source, language,
  * domain — the Pile/Dolma-style mixture weights), compute the LARGEST
  * corpus that honors the proportions without oversampling any
  * stratum, and keep each document accordingly. The binding stratum
  * (the one whose availability runs out first: min over g of
  * n_g / w_g) is kept in full — guaranteed exactly, via an explicit
  * cap-equality branch plus a LEAST clamp (double arithmetic alone
  * rounds share·(n/share) below n on a measured ~5% of (n, share)
  * pairs, and above it on others); every other stratum subsamples
  * down to its proportional target floor(w_g · T).
  *
  * Scale shape (the point at 100 TB): stratum sizes are one partial-
  * aggregated exchange whose width is the number of strata; the share
  * table, the one-row binding total, and the per-stratum targets are
  * all broadcast attaches; the keep decision is a salted id-hash
  * threshold — map-only, no RNG, no corpus-sized state, reproducible
  * across runs and engines (the same determinism treatment as
  * [[TextOps.stratifiedKeep]], whose rates are GIVEN — here they are
  * DERIVED from the targets and what's available).
  *
  * Strata absent from `shares` are share-zero: their documents are
  * dropped (inner join against the share table). Callers wanting
  * pass-through for unlisted strata list them explicitly.
  *
  * Reference basis: none — north-star training-data-pipeline
  * capability (SURVEY §2 extension family).
  */
object Mixture {

  /** The engine-wide fixed-point scale ([[TextOps.FixedPoint]]). */
  val FixedPoint: Double = TextOps.FixedPoint

  /** Temperature-scaled mixture — the α-sampling recipe of
    * multilingual pretraining (Conneau & Lample 2019 §3.1, XLM-R
    * arXiv:1911.02116 §5.1): instead of GIVEN target proportions
    * ([[mixtureKeep]]'s data-card shape), shares are DERIVED from
    * stratum availability as w_g ∝ n_g^α, flattening the natural
    * distribution — high-resource strata stop dominating, low-resource
    * strata are upweighted — with the binding-stratum/LEAST-clamp/
    * salted-draw chain downstream verbatim.
    *
    * α is FIXED at 1/2: n^0.5 = sqrt(n) is the one member of the
    * family IEEE 754 requires to be CORRECTLY ROUNDED — bit-identical
    * between Spark (Math.sqrt) and DuckDB (libm sqrt) — while a
    * general pow() rides exp·log, barred from oracled value paths by
    * the measured libm/StrictMath divergence (SCALING.md log
    * doctrine). A deployment wanting other α chains sqrt compositions
    * (α = 1/4 = sqrt∘sqrt) or accepts its engine's pow.
    *
    * The share denominator Σ_g sqrt(n_g) is a cross-row DOUBLE sum —
    * order-dependent in IEEE — so it rides the fixed-point device:
    * num_g = floor(sqrt(n_g)·2^32) exact longs, W = Σ num_g (exact
    * long sum), share_g = num_g/W (one IEEE division pair;
    * quantization < 2^-32 of a share).
    *
    * Scale shape: the corpus pays exactly ONE |strata|-row size
    * aggregate, collected to the driver (the Ivf/Pq/Dsir model-fit
    * collect class — the share/total/target arithmetic is
    * stratum-table-sized, not corpus-sized), and the finished target
    * table broadcast-attaches to the docs scan; the keep verdict is
    * the salted id-hash threshold — map-only, no RNG, reproducible
    * under any partitioning. (The first cut derived shares in-plan;
    * its executed plan repeated the size-aggregate subtree under four
    * consumers with no static exchange reuse — the fold to one
    * aggregate + driver arithmetic is the measured fix, and every
    * driver op mirrors the oracle: Math.sqrt is correctly rounded,
    * the long sum exact, min over doubles order-independent.)
    *
    * Output: (idCol, groupCol, grp_n, share, target_n, keep) — the
    * derived share is emitted so a data card can record what α chose.
    */
  def temperatureMixtureKeep(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      salt: String = "tmix"): DataFrame = {
    val targets = temperatureTargets(docs, groupCol)
    attachTargets(docs, idCol, groupCol, targets, salt)
  }

  /** The frozen α = 1/2 target table: (stratum, grp_n, share,
    * target_n), one row per stratum — [[temperatureMixtureKeep]]'s
    * model-fit half, exposed so the crawl-edge stream twin can fit it
    * once in batch and verdict arrivals against the FROZEN table (the
    * qst17/qst18 frozen-model class). Every op mirrors the oracle:
    * Math.sqrt is correctly rounded, the numerator sum an exact long,
    * min over doubles order-independent, and the LEAST clamp the same
    * floor/min pair.
    */
  def temperatureTargets(docs: DataFrame, groupCol: String)
      : Seq[(String, Long, Double, Long)] = {
    val s = docs.sparkSession
    import s.implicits._
    temperatureTargetsOf(docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("grp_n"))
      .select(col(groupCol).cast("string"), col("grp_n"))
      .as[(String, Long)].collect())
  }

  /** [[temperatureTargets]]' driver math over already-counted
    * (stratum, n) sizes — the one copy of the share/total/target
    * arithmetic, for callers that count strata in their own pass.
    */
  def temperatureTargetsOf(sizes: Seq[(String, Long)])
      : Seq[(String, Long, Double, Long)] = {
    require(sizes.nonEmpty, "no strata: empty input")
    val nums = sizes.map { case (g, n) =>
      // loud Long-range guard (the Dsir rMax discipline): for n ≥ 2^62
      // sqrt(n)·2^32 exceeds Long.MaxValue and Double→Long would
      // silently saturate, corrupting every share. The bound compares
      // in DOUBLE because the arithmetic it protects does: n in
      // [2^62−512, 2^62) passes an integer `n < 2^62` check yet rounds
      // to exactly 2^62 as a double, sqrt gives exactly 2^31, and the
      // product saturates anyway — the double compare rejects exactly
      // the values whose rounded form reaches the overflow.
      require(n.toDouble < (1L << 62).toDouble,
        s"stratum $g holds $n docs - the 2^32 fixed-point sqrt " +
          "numerator exceeds Long range (bound: n < 2^62)")
      (g, n, math.floor(math.sqrt(n.toDouble) * FixedPoint).toLong)
    }
    // exact long sum with a loud overflow guard: enough large strata
    // wrap a naive sum silently and corrupt every share downstream
    val wsum =
      try nums.foldLeft(0L)((acc, t) => Math.addExact(acc, t._3))
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          "temperature-share numerator sum overflows Long - too many " +
            "large strata for the 2^32 fixed-point device")
      }
    val withShare = nums.map { case (g, n, num) =>
      (g, n, num.toDouble / wsum.toDouble)
    }
    val mixTotal = withShare.map { case (_, n, share) =>
      n.toDouble / share
    }.min
    withShare.map { case (g, n, share) =>
      // Binding stratum kept in full BY CONSTRUCTION, not FP-probably:
      // floor(share·(n/share)) rounds DOWN to n−1 on ~5% of (n, share)
      // pairs (measured), and the LEAST clamp only repairs upward
      // rounding — so the argmin stratum (cap == the min) is branched
      // to n explicitly. The cap equality is one IEEE division per
      // side, identical in any engine, so the oracle mirrors the
      // branch with the same CASE.
      val target =
        if (n.toDouble / share == mixTotal) n
        else math.min(math.floor(share * mixTotal), n.toDouble).toLong
      (g, n, share, target)
    }.toSeq
  }

  /** The mixture-admission draw alone: salted deterministic id-hash
    * against the stratum's target share — shared verbatim by
    * [[attachTargets]] and any composite that carries its own columns
    * through the broadcast target attach (qst23's admission stream).
    */
  def keepExpr(id: Column, grpN: Column, targetN: Column,
      salt: String = "tmix"): Column =
    TextOps.hash60(concat(lit(s"$salt:"), id.cast("string"))) %
      grpN < targetN

  /** The verdict half: broadcast-attach a (frozen) target table and
    * emit the salted-hash keep — map-only, stateless, the same
    * expression batch-side and stream-side (which is what lets the
    * stream twin's oracle be the batch SQL verbatim).
    */
  def attachTargets(docs: DataFrame, idCol: String, groupCol: String,
      targets: Seq[(String, Long, Double, Long)],
      salt: String = "tmix"): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // the target key is the STRING form (temperatureTargets casts at
    // fit time) — join it against the docs' groupCol cast explicitly
    // to string, so the equi-join is type-exact on both engines
    // instead of riding Spark's implicit cross-type coercion (which
    // can diverge from a native-typed oracle join on edge values),
    // while the emitted groupCol keeps the docs' native type
    val tDf = targets.toDF("__tmix_g", "grp_n", "share", "target_n")
    docs.select(col(idCol), col(groupCol))
      .join(broadcast(tDf), col(groupCol).cast("string") === col("__tmix_g"))
      .select(col(idCol), col(groupCol),
        col("grp_n").cast("int").as("grp_n"), col("share"),
        col("target_n").cast("int").as("target_n"),
        keepExpr(col(idCol), col("grp_n"), col("target_n"), salt).as("keep"))
  }

  /** Per-document mixture-targeting verdict. Output:
    * (idCol, groupCol, grp_n, target_n, keep), one row per document
    * whose stratum appears in `shares`. `shares` must be positive and
    * sum to 1 (±1e-9); `salt` decorrelates the keep hash from other
    * id-hash samplers run on the same corpus.
    */
  def mixtureKeep(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      shares: Seq[(String, Double)],
      salt: String = "mix"): DataFrame = {
    require(shares.nonEmpty, "shares must be non-empty")
    require(shares.forall(_._2 > 0), "shares must be positive")
    require(math.abs(shares.map(_._2).sum - 1.0) <= 1e-9,
      s"shares must sum to 1, got ${shares.map(_._2).sum}")
    require(shares.map(_._1).distinct.size == shares.size,
      "duplicate stratum in shares")
    val s = docs.sparkSession
    import s.implicits._
    val shareDf = shares.toDF(groupCol, "share")
    val sizes = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("grp_n"))
    // binding total: the largest T with floor(w_g * T) <= n_g for all g
    val total = sizes.join(shareDf, groupCol)
      .agg(min(col("grp_n").cast("double") / col("share")).as("mix_total"))
    // Binding-stratum exactness: mathematically floor(w_g·T) <= n_g
    // for all g with equality at the binding stratum, but in double
    // arithmetic share*(n/share) rounds BELOW n on ~5% of (n, share)
    // pairs (measured) — which would subsample one document from the
    // binding stratum. The LEAST clamp repairs upward rounding; the
    // explicit cap-equality CASE (one IEEE division per side,
    // engine-identical) repairs downward rounding, making "binding
    // stratum kept in full" exact BY CONSTRUCTION.
    val targets = sizes.join(shareDf, groupCol)
      .crossJoin(broadcast(total))
      .select(col(groupCol), col("grp_n"),
        when(col("grp_n").cast("double") / col("share") ===
            col("mix_total"), col("grp_n"))
          .otherwise(
            least(floor(col("share") * col("mix_total")), col("grp_n")))
          .as("target_n"))
    docs.select(col(idCol), col(groupCol))
      .join(broadcast(targets), Seq(groupCol))
      .select(col(idCol), col(groupCol),
        col("grp_n").cast("int").as("grp_n"),
        col("target_n").cast("int").as("target_n"),
        (TextOps.hash60(concat(lit(s"$salt:"), col(idCol).cast("string")))
          % col("grp_n") < col("target_n")).as("keep"))
  }

  /** TOKEN-budget mixture targeting — [[mixtureKeep]] re-denominated
    * in the units a trainer's data card specifies ("40% en BY
    * TOKENS"). `nTok` is any token-count column (the BPE count,
    * [[graft.functions.BpeEncode.bpe_token_count]], is the honest
    * one). Binding total T = min over g of tok_g / w_g; stratum g's
    * token budget = least(floor(w_g·T), tok_g) (the same FP clamp as
    * the count form).
    *
    * TWO-PASS operator (the `Urls.domainCap` contract): the input is
    * consumed once by the stratum-size aggregate and once by the keep
    * path, so `nTok`'s expression — a full BPE encode when it is the
    * honest count — evaluates twice. The contract is CALLER-OWNED
    * caching: feed a column of an already-materialized table (qt34's
    * fixture shape), or persist the (id, group, nTok) projection first
    * when the count rides an expensive scan.
    *
    * Because a token budget is filled by whole documents, hitting it
    * needs an ORDER — and a global per-stratum cumulative sum is the
    * unbounded-window shape this repo forbids. Instead the qt10/Pack
    * treatment: documents hash into `shards` independent streams; each
    * (stratum, shard) fills floor(budget/shards) tokens in salted
    * (hash, id) order, a document keeping iff its START offset lies
    * inside the shard budget (concat-then-chop semantics: per-shard
    * overshoot is bounded by one document; per-shard windows are the
    * caller-chosen parallelism, never a hot-key sort). Deterministic
    * across runs and engines — no RNG, md5-derived order.
    *
    * Output: (idCol, groupCol, n_tok, grp_tok, target_tok, shard,
    * keep), one row per document of a listed stratum.
    */
  def mixtureKeepTokens(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      nTok: Column,
      shares: Seq[(String, Double)],
      shards: Int = 32,
      salt: String = "mixtok"): DataFrame = {
    require(shares.nonEmpty, "shares must be non-empty")
    require(shares.forall(_._2 > 0), "shares must be positive")
    require(math.abs(shares.map(_._2).sum - 1.0) <= 1e-9,
      s"shares must sum to 1, got ${shares.map(_._2).sum}")
    require(shares.map(_._1).distinct.size == shares.size,
      "duplicate stratum in shares")
    require(shards > 0, "need positive shards")
    val s = docs.sparkSession
    import s.implicits._
    val shareDf = shares.toDF(groupCol, "share")
    val base = docs.select(col(idCol), col(groupCol),
        nTok.cast("long").as("n_tok"),
        TextOps.hash60(concat(lit(s"$salt:"), col(idCol).cast("string")))
          .as("h"))
      .withColumn("shard", (col("h") % shards).cast("int"))
    // Shares LEFT-join the measured sizes: a listed stratum with zero
    // docs (or zero tokens) coalesces to grp_tok = 0, so the binding
    // min collapses the whole mixture total to 0 and every keep flag
    // is false — a LOUD empty output instead of silently violating the
    // requested proportions by letting the missing stratum drop out of
    // the min (spec-pinned in MixtureSpec).
    val sizes = shareDf
      .join(broadcast(base.groupBy(col(groupCol))
          .agg(sum(col("n_tok")).as("grp_tok"))),
        Seq(groupCol), "left")
      .select(col(groupCol), col("share"),
        coalesce(col("grp_tok"), lit(0L)).as("grp_tok"))
    val total = sizes
      .agg(min(col("grp_tok").cast("double") / col("share")).as("mix_total"))
    // same binding-stratum CASE as the count form: floor(w·(tok/w))
    // can round below tok_g, and the budget of the binding stratum
    // must be exactly its availability
    val targets = sizes
      .crossJoin(broadcast(total))
      .select(col(groupCol), col("grp_tok"),
        when(col("grp_tok").cast("double") / col("share") ===
            col("mix_total"), col("grp_tok"))
          .otherwise(
            least(floor(col("share") * col("mix_total")), col("grp_tok")))
          .as("target_tok"))
    val w = Window.partitionBy(col(groupCol), col("shard"))
      .orderBy(col("h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(targets), Seq(groupCol))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col(idCol), col(groupCol),
        col("n_tok").cast("int").as("n_tok"),
        col("grp_tok").cast("int").as("grp_tok"),
        col("target_tok").cast("int").as("target_tok"),
        col("shard"),
        ((col("cum") - col("n_tok")) <
          expr(s"target_tok div ${shards}L"))
          .as("keep"))
  }
}
