package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines: whitespace
  * normalization, tokenization, portable hashing, token statistics,
  * quality scoring, n-gram language ID, and document fingerprinting.
  *
  * Everything here is a pure column expression (codegen-friendly, no UDFs)
  * and engine-portable: the only hash primitive is md5, so a DuckDB oracle
  * can reproduce every value bit-for-bit. Scores use only +,-,*,/ and
  * comparisons (IEEE-deterministic) — no transcendental functions, whose
  * last-ulp behavior differs across math libraries.
  */
object TextOps {

  /** Evaluate `a` exactly ONCE per row and feed the materialized value
    * to `f` as a lambda variable. Spark's higher-order functions are
    * interpreted (no whole-stage codegen, no common-subexpression
    * elimination), so a lambda body that references an outer
    * expression tree — `element_at(split(norm(text)), i)` inside
    * `transform(sequence(...), i => ...)` — re-evaluates the WHOLE
    * outer tree per element: O(elements) regex+split passes per row
    * instead of one (measured 21x on the qt18 bigram explode at
    * sf0.1). A HOF's argument, by contrast, is evaluated once per row
    * and lambda-variable access is O(1) — so wrapping the expensive
    * tree in a one-element array and transforming over it pins
    * single-evaluation at the expression level, where no projection
    * split can be un-collapsed by Catalyst.
    */
  def bindOnce(a: Column)(f: Column => Column): Column =
    element_at(transform(array(a), f), 1)

  /** Collapse whitespace, trim, lowercase — canonical text form. */
  def norm(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(norm(text), " ")

  /** Driver/executor-LOCAL mirror of [[norm]] for the stream-edge
    * scorers (NgramLm.scoreLocal, Dsir.scoreLocal,
    * Classifier.marginLocal) — EXACT operation order:
    * regexp_replace(\s+ -> ' ') innermost, then trim, then lower.
    * Spark's trim strips ' ' only (UTF8String.trim), so strip
    * spaces by hand rather than Java's <=0x20 trim. The column form
    * lowers through ICU's root-locale case mapping (Spark's
    * collation-aware `lower`); the JDK's Locale.ROOT mapping agrees
    * with it on ASCII and on the context- and length-changing cases
    * MirrorPropertySpec pins (final sigma, dotted capital I, capital
    * sharp s).
    */
  def normLocal(text: String): String = {
    val collapsed = text.replaceAll("\\s+", " ")
    var b = 0
    var e = collapsed.length
    while (b < e && collapsed.charAt(b) == ' ') b += 1
    while (e > b && collapsed.charAt(e - 1) == ' ') e -= 1
    collapsed.substring(b, e).toLowerCase(java.util.Locale.ROOT)
  }

  /** Local mirror of [[tokens]]: split-on-space of [[normLocal]] with
    * limit -1, so an empty norm yields the single empty token exactly
    * as Spark's split does.
    */
  def tokensLocal(text: String): Array[String] =
    normLocal(text).split(" ", -1)

  /** 2^32 — THE fixed-point scale of every cross-engine exact-sum
    * device in the engine (NgramLm score means, Classifier gradients,
    * Dsir ratio means, Mixture temperature numerators): cross-row or
    * cross-element DOUBLE sums are order-dependent in IEEE, so each
    * term is quantized to floor(x·2^32) and summed as exact longs.
    * One constant, one value — the 4294967296.0 literals inside the
    * DuckDB oracle SQL strings mirror it and must never drift.
    */
  val FixedPoint = 4294967296.0

  /** Portable 60-bit hash: first 15 hex digits of md5, as a positive
    * long. Identical in any engine with md5 (DuckDB:
    * `('0x' || substr(md5(x),1,15))::BIGINT`).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Hashing-trick linear classifier inference — the fasttext/logreg
    * quality- (or language-) filter shape every large corpus build
    * runs: token → salted 60-bit hash → bucket in [0, dim) → weight
    * lookup in a dim-sized literal weight vector → ordered fold →
    * mean. The weight vector is the MODEL — KBs, living in the plan
    * as a literal (the [[graft.sim.Ivf.centroidsLit]] pattern), so
    * inference is a pure codegen expression riding the corpus scan:
    * no UDF, no join, no shuffle, model swap = new literal. Hashing
    * rides [[graft.functions.TokenHashes60]] (one codegen md5 pass
    * over the salted token array). The fold is left-to-right in token
    * order with a 0.0 seed — engine-exact against a SQL
    * `list_reduce` ((0+w1)+w2 ≡ (w1+w2) in IEEE).
    */
  def hashedClassifierScore(text: Column, weights: Array[Double],
      salt: String = "qc"): Column = {
    require(weights.nonEmpty, "need a non-empty weight vector")
    // ONE Literal node, not a dim-child CreateArray (same values, same
    // element_at lookups; plan-walk cost drops from O(dim) to O(1))
    val wLit = typedlit(weights)
    val dim = weights.length.toLong
    bindOnce(tokens(text)) { toks =>
      val hs = graft.functions.TokenHashes60.token_hashes60(
        transform(toks, t => concat(lit(salt + ":"), t)))
      aggregate(hs, lit(0.0), (acc, h) =>
        acc + element_at(wLit, (h % lit(dim)).cast("int") + 1)) / size(toks)
    }
  }

  /** Deterministic stand-in weight vector for
    * [[hashedClassifierScore]] — w(b) = (b mod 997)/997 − 0.5,
    * engine-recomputable closed-form (the qt28 oracle derives the
    * same values arithmetically). The TRAINED replacement exists:
    * [[graft.text.Classifier.trainQuality]] fits real weights
    * in-engine (qt46) and ClassifierSpec pins its margin fold
    * bit-identical to this serving shape, so the swap is a literal
    * array substitution; this stub stays as the closed-form fixture
    * qt28's serving-shape oracle needs.
    */
  def stubQualityWeights(dim: Int = 4096): Array[Double] =
    Array.tabulate(dim)(b => (b % 997).toDouble / 997.0 - 0.5)

  /** BPE-ish regex token count: letter runs, digit runs, single other
    * non-space symbols (a cheap proxy for subword token counting).
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def tokenCountWs(text: Column): Column = size(tokens(text))

  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))

  /** Fraction of characters that are not alphanumeric or space. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))) /
      length(text)

  /** Mean token length of the normalized text. */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(norm(text), " ", "")) / tokenCountWs(text)

  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "is", "in")

  /** Fraction of whitespace tokens that are common English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val stops = array(EnStopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(stops, t))) /
      tokenCountWs(text)
  }

  /** Composite quality score in [0,1]: stopword presence, low
    * punctuation, and enough (capped) length. Pure arithmetic so the
    * oracle reproduces it exactly.
    */
  def qualityScore(text: Column): Column =
    (stopwordRatio(text) * 2.0 + (lit(1.0) - punctRatio(text)) +
      least(tokenCountWs(text), lit(100)) / 100.0) / 4.0

  /** Per-language stopword marker sets for the n-gram/stopword language
    * ID heuristic. zh is detected by CJK codepoint presence instead.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"))

  def langScore(text: Column, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(tokens(text), t => array_contains(arr, t)))
  }

  def cjkCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))

  /** Language guess: argmax of marker-hit counts with a fixed priority
    * order (en, es, de, fr, zh) for ties.
    */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, m) => l -> langScore(text, m) }
    val zh = cjkCount(text)
    val Seq(en, es, de, fr) = scores.map(_._2)
    when(en >= es && en >= de && en >= fr && en >= zh, "en")
      .when(es >= de && es >= fr && es >= zh, "es")
      .when(de >= fr && de >= zh, "de")
      .when(fr >= zh, "fr")
      .otherwise("zh")
  }

  /** Gopher-style repetition signal (cf. Rae et al. 2021's repetition
    * filters): fraction of whitespace tokens that repeat an earlier
    * token, i.e. 1 - distinct/total. High values mark token-soup /
    * boilerplate documents a training pipeline drops.
    */
  def dupTokenFraction(text: Column): Column =
    lit(1.0) - size(array_distinct(tokens(text))) / tokenCountWs(text)

  /** Non-distinct word bigrams of the normalized text — the COUNTING
    * form feeding repetition fractions ([[graft.dedup.Dedup.wordNgrams]]
    * is the distinct set form for Jaccard). Single-token documents get
    * an empty array (guarded: Spark's `sequence(1, 0)` would descend).
    */
  def wordBigrams(text: Column): Column =
    bindOnce(tokens(text)) { toks =>
      when(size(toks) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(toks) - 1), i =>
          concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
    }

  /** Content fingerprints: md5 of the normalized text, and its 60-bit
    * numeric form for compact storage / joins.
    */
  def fingerprintMd5(text: Column): Column = md5(norm(text))
  def fingerprint60(text: Column): Column = hash60(norm(text))

  /** Overlapping token-window chunks — the training-data chunking
    * primitive (explode downstream for one row per chunk). Chunk i
    * covers tokens [i·stride, i·stride + chunkSize) of the normalized
    * text, stride = chunkSize − overlap; the final chunk may be short.
    * Documents at or under chunkSize yield exactly one chunk.
    */
  def chunks(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize > overlap >= 0, got $chunkSize/$overlap")
    val stride = chunkSize - overlap
    bindOnce(tokens(text)) { toks =>
      val n = when(size(toks) <= chunkSize, lit(1))
        .otherwise(((size(toks) - chunkSize + (stride - 1)) / stride).cast("int") + 1)
      transform(sequence(lit(0), n - 1), i =>
        concat_ws(" ", slice(toks, i * stride + 1, lit(chunkSize))))
    }
  }

  /** Deterministic corpus split by content-independent hash of the id:
    * stable across runs/engines (md5-based hash60), stratified by the
    * given percentage cut points, e.g. Seq(90, 95) -> train/val/test.
    */
  def hashSplit(id: Column, cuts: Seq[Int], names: Seq[String]): Column = {
    require(names.length == cuts.length + 1, "need one more name than cut")
    val bucket = hash60(id.cast("string")) % 100
    cuts.zip(names).foldRight(lit(names.last): Column) { case ((cut, name), acc) =>
      when(bucket < cut, name).otherwise(acc)
    }
  }

  /** Deterministic stratified sampling — the data-mixing step of a
    * training build: keep each row iff its salted id-hash bucket falls
    * under the group's per-cent rate (`rates`, with `defaultRate` for
    * unlisted groups). Pure map-only column expression (no shuffle, no
    * RNG): reproducible across runs/engines, and the salt decorrelates
    * the sample from [[hashSplit]] buckets so sampling never biases a
    * train/eval split made from the same ids.
    */
  def stratifiedKeep(id: Column, group: Column, rates: Map[String, Int],
      defaultRate: Int): Column = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0 && r <= 100),
      "rates are percentages in [0, 100]")
    val bucket = hash60(concat(lit("sample:"), id.cast("string"))) % 100
    val rate = rates.foldLeft(lit(defaultRate): Column) { case (acc, (g, r)) =>
      when(group === g, r).otherwise(acc)
    }
    bucket < rate
  }

  /** PII patterns restricted to syntax shared verbatim by Java regex
    * and RE2 (so the DuckDB oracle replays them byte-identically):
    * character classes, bounded repetition, and \b word boundaries —
    * no lookaround, no backreferences.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and phone-like digit runs to typed
    * placeholder tokens — the standard pre-training scrub pass, as a
    * pure codegen column expression (linear, map-only at any scale).
    * Order matters and is part of the contract: emails first (their
    * local/domain parts may contain digit runs the narrower patterns
    * would bite into), then IPs, then phones; replaced placeholders
    * contain no digits, so later passes cannot re-match earlier ones.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-category PII match counts (audit/reporting companion of
    * [[redactPii]] — a curation pipeline reports what it scrubbed).
    */
  def piiCounts(text: Column): Seq[Column] = Seq(
    regexp_count(text, lit(EmailRe)).cast("int").as("n_email"),
    regexp_count(regexp_replace(text, EmailRe, "<EMAIL>"), lit(Ipv4Re))
      .cast("int").as("n_ip"),
    regexp_count(
      regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"), lit(PhoneRe)).cast("int").as("n_phone"))
}
