package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL curation — the provenance-keyed half of a web-scale corpus
  * build (the C4/RefinedWeb recipe): canonicalize crawl URLs so the
  * same page fetched through tracking-parameter variants collapses to
  * one key, extract the registrable domain as the stratum curation
  * decisions act on, and cap per-domain volume so no single site
  * dominates the training mix.
  *
  * Everything is built from codegen'd Spark built-ins (regexp /
  * array HOFs) — no UDF; the only joins are KB-sized public-suffix
  * broadcast lookups — and every rule (plus the bundled PSL resource
  * itself) is mirrored exactly by the DuckDB oracles (qt26-qt31,
  * qx10, qx14, qst16), so the canonical key is engine-portable the way
  * every other fingerprint in this repo is. Domain extraction comes
  * in three forms, weakest to strongest: [[registrableDomain]] (pure
  * label arithmetic, list-free), [[registrableDomains]] (the 2-label
  * subset lookup kept for its pinned join shape), and
  * [[registrableDomainsPsl]] (the FULL publicsuffix.org algorithm
  * over the bundled ~880-rule resource — the production form the
  * driver queries use).
  */
object Urls {

  /** Query parameters dropped at canonicalization: tracking params
    * carry no content identity (the same page arrives once per
    * campaign otherwise).
    */
  val TrackingParamRe = "^(utm_[^=]*|fbclid|gclid)(=|$)"

  /** Labels that act as second-level registries under a short ccTLD
    * (site5.co.uk registers under co.uk, not uk). The label-arithmetic
    * FALLBACK for suffixes absent from [[PslSubset]] — production
    * keeps the full public-suffix list in the table and this rule
    * catches only unlisted TLD combinations.
    */
  val SecondLevelLabels: Seq[String] =
    Seq("co", "com", "org", "net", "ac", "gov", "edu")

  /** Bundled public-suffix table — a genuine subset of the public
    * suffix list (publicsuffix.org): common ccTLD second-level
    * registries plus the high-volume shared-hosting suffixes every
    * real crawl hits (github.io et al — under these, each USER SITE is
    * its own registrable domain; collapsing them to the suffix would
    * let one hosting provider eat the whole per-domain cap). 2-label
    * entries only, lowercase. This is the LEGACY subset form — it
    * pins the one-join broadcast lookup shape; production is
    * [[registrableDomainsPsl]] over the bundled full-format resource;
    * [[SecondLevelLabels]] stays as the fallback for unlisted TLDs.
    */
  val PslSubset: Seq[String] = Seq(
    "ac.jp", "ac.nz", "ac.uk", "appspot.com", "co.id", "co.il", "co.in",
    "co.jp", "co.kr", "co.nz", "co.th", "co.uk", "co.za", "com.ar",
    "com.au", "com.br", "com.cn", "com.eg", "com.hk", "com.mx", "com.my",
    "com.ph", "com.sa", "com.sg", "com.tr", "com.tw", "com.vn", "edu.au",
    "github.io", "gitlab.io", "go.jp", "gob.mx", "gov.au", "gov.br",
    "gov.cn", "gov.uk", "govt.nz", "herokuapp.com", "me.uk", "ne.jp",
    "net.au", "net.br", "net.cn", "net.in", "net.nz", "net.uk",
    "netlify.app", "or.jp", "or.kr", "org.au", "org.br", "org.cn",
    "org.il", "org.in", "org.mx", "org.nz", "org.uk", "org.za",
    "pages.dev", "vercel.app", "web.app", "workers.dev")

  /** The authority (host[:port]) of `url` with transport noise gone:
    * userinfo (`user:pw@` — anything up to the last `@`; a host can't
    * contain one) stripped, and a fully-qualified trailing host dot
    * (which may sit BEFORE the port) stripped. Case preserved —
    * callers lower() where their rule demands it.
    */
  private def authority(url: Column): Column =
    regexp_replace(regexp_replace(
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1),
      "^.*@", ""), "\\.(:[0-9]+)?$", "$1")

  /** Canonical form of a crawl URL:
    *   - scheme and host lowercased (path/query stay case-sensitive)
    *   - fragment dropped
    *   - userinfo (`user:pw@`) and a trailing host dot dropped
    *     (transport noise — left in place they break the www./port
    *     rules and split one page across keys)
    *   - leading `www.` dropped
    *   - default port dropped (`:443` for https, `:80` for http —
    *     non-default ports are identity and stay)
    *   - tracking params ([[TrackingParamRe]]) dropped, remaining
    *     params sorted bytewise (param order is transport noise)
    *   - trailing slash dropped (empty path becomes `/`)
    * One pass of regexp extracts + an array HOF over the query — all
    * codegen, no UDF, rides the scan.
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(authority(url))
    val path =
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    // the '?' must sit BEFORE any '#': an unanchored "\?([^#]*)" would
    // read a '?' inside the fragment as a query string (".../page#sec?x=1"
    // canonicalized to ".../page?x=1" instead of ".../page"), splitting
    // one page into two canonical keys — the non-greedy pre-fragment
    // prefix pins the first real query separator only
    val query = regexp_extract(url, "^[^#]*?\\?([^#]*)", 1)
    val noWww = regexp_replace(hostport, "^www\\.", "")
    val host = when(scheme === "https", regexp_replace(noWww, ":443$", ""))
      .when(scheme === "http", regexp_replace(noWww, ":80$", ""))
      .otherwise(noWww)
    val cpath = when(path === "", lit("/"))
      .when(length(path) > 1, regexp_replace(path, "/$", ""))
      .otherwise(path)
    val cquery = concat_ws("&", array_sort(filter(split(query, "&"),
      q => q =!= "" && not(q.rlike(TrackingParamRe)))))
    concat(scheme, lit("://"), host, cpath,
      when(cquery === "", lit("")).otherwise(concat(lit("?"), cquery)))
  }

  /** The bare host of a URL: [[authority]] lowercased, `www.` and any
    * port stripped — the input of both domain extractors.
    */
  private def bareHost(url: Column): Column =
    regexp_replace(regexp_replace(lower(authority(url)),
      "^www\\.", ""), ":[0-9]+$", "")

  /** The registrable domain of a URL by LABEL ARITHMETIC alone — the
    * heuristic form: last two host labels, or last three when the
    * second-to-last is a [[SecondLevelLabels]] registry under a short
    * (≤3 chars) TLD. Kept as the documented fallback (and for
    * list-free callers); [[registrableDomainsPsl]] is the production
    * form — the heuristic cannot know that e.g. github.io is a
    * registry suffix, so it collapses every *.github.io user site
    * into one domain.
    */
  def registrableDomain(url: Column): Column = {
    val labels = split(bareHost(url), "\\.")
    val n = size(labels)
    // functions.get is 0-based: second-to-last label is index n-2
    val sld = get(labels, n - 2)
    val tld = get(labels, n - 1)
    when(n >= 3 && sld.isin(SecondLevelLabels: _*) && length(tld) <= 3,
      concat_ws(".", slice(labels, n - 2, lit(3))))
      .otherwise(concat_ws(".", slice(labels, greatest(n - 1, lit(1)), lit(2))))
  }

  /** [[PslSubset]] as the one-column `(suffix)` lookup table
    * [[registrableDomains]] joins — swap in the full public-suffix
    * list here and nothing else changes.
    */
  def pslTable(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    PslSubset.toDF("suffix")
  }

  /** The registrable domain via the PUBLIC-SUFFIX TABLE — the
    * production form: the host's last-two-label suffix is looked up
    * in `psl` through a broadcast left join (the list is KBs full-
    * size — a map-side hash probe per row, no shuffle of the corpus);
    * on a hit the registrable domain is the last THREE labels (one
    * label under the registry suffix), otherwise the
    * [[registrableDomain]] label-arithmetic fallback decides. Adds
    * `outCol` to `df`; every other column passes through.
    */
  def registrableDomains(df: DataFrame, urlCol: String, outCol: String,
      psl: DataFrame): DataFrame = {
    val labels = split(bareHost(col(urlCol)), "\\.")
    val n = size(labels)
    val sfx2 = concat_ws(".", slice(labels, greatest(n - 1, lit(1)), lit(2)))
    val lookup = psl.select(col("suffix").as("__psl_sfx"),
      lit(true).as("__psl_hit"))
    df.withColumn("__psl_probe", when(size(labels) >= 3, sfx2))
      .join(broadcast(lookup),
        col("__psl_probe") === col("__psl_sfx"), "left")
      .withColumn(outCol,
        when(col("__psl_hit"),
          concat_ws(".", slice(labels, n - 2, lit(3))))
          .otherwise(registrableDomain(col(urlCol))))
      .drop("__psl_probe", "__psl_sfx", "__psl_hit")
  }

  /** One pivoted public-suffix entry: `key` is the rule's label suffix
    * (for a wildcard rule `*.key`, the TAIL after `*.`; for an
    * exception rule `!key`, the labels after `!`), and the booleans
    * say which rule kinds exist for that key. Pivoting lets one
    * broadcast lookup per probe length answer all three kinds.
    */
  final case class PslRule(key: String, hasPlain: Boolean,
      hasWild: Boolean, hasExc: Boolean)

  /** Parse a public-suffix list in the REAL publicsuffix.org format:
    * one rule per line, `//` comments, blank lines, `*.` wildcard
    * rules (the `*` matches exactly one label) and `!` exception
    * rules (override a wildcard; their public suffix is the rule
    * minus its leftmost label). Keys are lowercased and pivoted by
    * kind; order is input order (first occurrence) — deterministic.
    */
  def parsePsl(lines: Iterator[String]): Seq[PslRule] = {
    val plain = scala.collection.mutable.LinkedHashSet.empty[String]
    val wild = scala.collection.mutable.LinkedHashSet.empty[String]
    val exc = scala.collection.mutable.LinkedHashSet.empty[String]
    lines.map(_.trim.toLowerCase).filter(l => l.nonEmpty && !l.startsWith("//"))
      .foreach { l =>
        if (l.startsWith("!")) exc += l.substring(1)
        else if (l.startsWith("*.")) wild += l.substring(2)
        else plain += l
      }
    val keys = (plain.toSeq ++ wild.toSeq ++ exc.toSeq).distinct
    keys.map(k => PslRule(k, plain(k), wild(k), exc(k)))
  }

  /** The bundled public-suffix table — a genuine ~880-rule subset of
    * publicsuffix.org in the list's real format (incl. wildcard and
    * exception rules; see the resource header), parsed once per JVM.
    * Production swaps in the full downloaded file unchanged — the
    * parser and [[registrableDomainsPsl]] implement the complete
    * format and prevailing-rule semantics.
    */
  lazy val bundledPsl: Seq[PslRule] = {
    val in = getClass.getResourceAsStream("/graft/psl/public_suffix_subset.dat")
    require(in != null, "missing bundled public-suffix resource")
    try parsePsl(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** The FULL public-suffix algorithm (publicsuffix.org semantics)
    * over a parsed rule set — the production registrable-domain
    * extractor. Prevailing rule: any matching exception rule first
    * (longest), else the longest matching plain-or-wildcard rule,
    * else the implicit `*` (the bare TLD is the public suffix). The
    * registrable domain is the public suffix plus one label; a host
    * that IS a public suffix maps to itself (degenerate but total —
    * curation keys must be non-null).
    *
    * Scale shape: one broadcast lookup join per probe length (the
    * rule set is KBs pivoted by key — max rule length is 3 labels in
    * the bundled subset, so 3 map-side hash probes per row, no
    * corpus shuffle, no UDF); the match flags fold into the
    * public-suffix length with one when/greatest chain riding the
    * scan. Swapping the rule file only changes the broadcast content
    * (and `maxK` if a longer rule appears — derived from the rules).
    */
  def registrableDomainsPsl(df: DataFrame, urlCol: String, outCol: String,
      rules: Seq[PslRule] = bundledPsl): DataFrame = {
    require(rules.nonEmpty, "empty public-suffix rule set")
    // the probe machinery owns the __psl_ namespace for its working
    // columns (the materialized label array plus per-length probe
    // columns) — a caller column there would be silently overwritten
    // by the withColumn below and dropped on exit, so reject loudly
    require(!df.columns.exists(_.startsWith("__psl_")),
      s"input columns collide with the __psl_ working namespace: " +
        df.columns.filter(_.startsWith("__psl_")).mkString(", "))
    val spark = df.sparkSession
    import spark.implicits._
    val maxK = rules.map(_.key.count(_ == '.') + 1).max
    val lookup = rules.map(r => (r.key, r.hasPlain, r.hasWild, r.hasExc))
      .toDF("key", "has_plain", "has_wild", "has_exc")
    // the FULL host, port stripped but `www.` KEPT: unlike the
    // canonical-key rules (where www is transport noise), the PSL
    // algorithm must see every label — for host www.ck the `www` IS
    // the registrable label (the !www.ck exception), and stripping it
    // first would resolve to the bare suffix. Materialized ONCE as a
    // named column: inlining the 3-regex chain into every per-length
    // probe projection would re-evaluate it maxK+1 times per row
    // (codegen CSE cannot cross the probe-join projection boundaries).
    val labels = col("__psl_labels")
    val n = size(labels)
    var out = df.withColumn("__psl_labels", split(
      regexp_replace(lower(authority(col(urlCol))), ":[0-9]+$", ""), "\\."))
    for (k <- 1 to maxK) {
      out = out
        .withColumn(s"__psl_p$k",
          when(n >= k, concat_ws(".", slice(labels, -k, k))))
        .join(broadcast(lookup.select(col("key").as(s"__psl_k$k"),
            col("has_plain").as(s"__psl_pl$k"),
            col("has_wild").as(s"__psl_w$k"),
            col("has_exc").as(s"__psl_e$k"))),
          col(s"__psl_p$k") === col(s"__psl_k$k"), "left")
    }
    // exception rules prevail, longest first; their public suffix is
    // the rule minus its leftmost label
    var excPs: Column = lit(null).cast("int")
    for (k <- 1 to maxK)
      excPs = when(col(s"__psl_e$k"), lit(k - 1)).otherwise(excPs)
    // plain rule of k labels covers k; wildcard tail of k labels
    // covers k+1 but needs the host to HAVE that extra label
    val cands = (1 to maxK).map(k =>
      when(col(s"__psl_pl$k"), lit(k)).otherwise(lit(1))) ++
      (1 to maxK).map(k =>
        when(col(s"__psl_w$k") && n >= k + 1, lit(k + 1)).otherwise(lit(1)))
    val ps = coalesce(excPs, greatest(cands :+ (lit(1): Column): _*))
    val dropCols = "__psl_labels" +: (1 to maxK).flatMap(k =>
      Seq(s"__psl_p$k", s"__psl_k$k", s"__psl_pl$k", s"__psl_w$k",
        s"__psl_e$k"))
    out.withColumn(outCol,
        when(n > ps, concat_ws(".", slice(labels, -(ps + lit(1)), ps + lit(1))))
          .otherwise(concat_ws(".", labels)))
      .drop(dropCols: _*)
  }

  /** Exact per-domain volume cap: keep at most `cap` docs per domain,
    * chosen by salted deterministic hash order (ties by id) — no RNG,
    * reproducible across runs and engines, and decorrelated from the
    * split/sampling hashes by the salt. Emits every row with a `keep`
    * flag (the [[TextOps.stratifiedKeep]] convention).
    *
    * Scale shape — the THRESHOLD-AGGREGATE form, not a rank window.
    * Registrable domain is the most skewed key a web corpus has (a
    * head domain can hold 1% of the whole crawl), and a per-domain
    * `row_number` window is exactly the shape [[graft.ops.Skew
    * .capBuckets]]'s doc forbids: ranking inside the hot bucket pins
    * the head domain's every row on ONE task's sort. Instead: (1) a
    * bounded top-`cap` aggregate ([[graft.ops.TopK]]) finds each
    * domain's cap-th smallest (salted hash, id) pair — map-side
    * combine folds every task to ≤ cap entries per domain before the
    * one exchange, so the hot domain arrives as P tiny buffers, never
    * as its rows; (2) the domain-cardinality-sized threshold table
    * (24 B/row — AQE broadcasts it while it fits; past that the
    * equi-join's hot side is split by AQE skew handling, each row one
    * hash probe, no sort) joins back; (3) keep = one scalar compare
    * riding the scan. Semantics identical to ranking: (h, id) is a
    * total order, so `(h, id) <= cap-th smallest` IS `rank <= cap`
    * (UrlsSpec pins window-equivalence, and that the plan has no
    * Window). When an EXPECTED rate per domain suffices,
    * [[TextOps.stratifiedKeep]]'s map-only hash threshold remains the
    * cheaper tool.
    *
    * CALLER-OWNED CACHE CONTRACT (the Dedup.minhashPairs convention):
    * `docs` is consumed TWICE — the threshold aggregate and the
    * join-back each re-execute the upstream plan. The two-pass shape
    * is the honest price of an exact cap without a hot-domain sort;
    * when `docs` is anything more expensive than a pruned scan
    * (qx10 and qx14 feed it an already-reduced canonical-rep projection),
    * persist it first or pay the upstream twice. See SCALING.md
    * "two-pass operators".
    */
  def domainCap(docs: DataFrame, idCol: String, domainCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val withH = docs.withColumn("__domcap_h",
      TextOps.hash60(concat(lit("domcap:"), col(idCol).cast("string"))))
    val tk = graft.ops.TopK.topK(cap)
    val thr = withH.groupBy(col(domainCol).as("__domcap_dom"))
      .agg(tk(lit(0.0), col("__domcap_h"), col(idCol).cast("long"),
        typedLit(Seq.empty[Int])).as("__tk"))
      .select(col("__domcap_dom"), size(col("__tk")).as("__domcap_n"),
        element_at(col("__tk"), size(col("__tk"))).as("__domcap_kth"))
    withH.join(thr, col(domainCol) <=> col("__domcap_dom"))
      .withColumn("keep",
        col("__domcap_n") < cap ||
        col("__domcap_h") < col("__domcap_kth.w") ||
        (col("__domcap_h") === col("__domcap_kth.w") &&
          col(idCol).cast("long") <= col("__domcap_kth.id")))
      .drop("__domcap_h", "__domcap_dom", "__domcap_n", "__domcap_kth")
  }
}
