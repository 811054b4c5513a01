package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup
import graft.model.Tables
import graft.sim.{Ivf, Similarity}
import graft.text.TextOps

/** Training-data pipeline operators over `documents` / `embeddings`:
  * text analysis, dedup (exact / token-set / MinHash-LSH / SimHash /
  * n-gram Jaccard) and embedding similarity search, each with a DuckDB
  * oracle that recomputes the same deterministic spec.
  *
  * Shared SQL prelude: `norm` = lower(trim(ws-collapsed text));
  * hash60(x) = ('0x' || substr(md5(x),1,15))::BIGINT — the portable
  * 60-bit hash mirrored by [[graft.text.TextOps.hash60]].
  */
object DataOpsQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Run an eager model fit on the caller's thread under the fit job
    * group `graft-fit-<tag>` ("row-fit", e.g. "qst24-w0"), so every
    * Spark job the fit submits is attributable to it and cancellable
    * as a group (`sc.cancelJobGroup`, interruptOnCancel); then restore
    * the caller's own job-group properties, so groups nest.
    */
  private[graft] def inFitGroup[T](tag: String)(body: => T): T = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val keys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel")
    val saved = keys.map(sc.getLocalProperty)
    sc.setJobGroup(s"graft-fit-$tag", s"model fit: $tag",
      interruptOnCancel = true)
    try body
    finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** One 8-step GD quality-classifier fit over `src`'s text column,
    * persist-scoped (the DocLake unpersist discipline: the prepared
    * projection's only consumer is the eager fit) — qst24's two
    * frozen classifier fits.
    */
  private def trainQualityOn(src: DataFrame): Array[Double] = {
    val prep = graft.text.Classifier.prepareQuality(
        graft.ops.Partitioning.spread(src), "text", "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try graft.text.Classifier.trainQuality(prep)
    finally prep.unpersist()
  }

  /** Streaming replay of one testdata table, a single flat parquet
    * FILE under `dir`. The stream's path is a glob that matches exactly
    * `<dir>/<table>.parquet` ([[tableGlob]]), so the file source lists
    * that one file — streaming the parent dir through `pathGlobFilter`
    * made it list the whole dir tree recursively (Spark's local dirs
    * included) before filtering. Goes through [[Tables.load]] first so
    * session-level read confs (e.g. nanos-as-long for `events`) are set
    * and the schema matches the batch path bit-for-bit.
    */
  private[graft] def replayTable(s: SparkSession, dir: String,
      table: String): DataFrame = {
    val schema = Tables.load(s, dir, table).schema
    s.readStream.schema(schema).parquet(tableGlob(dir, table))
  }

  /** A Hadoop glob matching exactly the file `<dir>/<table>.parquet`:
    * `dir` and `table` with their glob metacharacters escaped, and the
    * file name wrapped in a one-alternative `{...}` group, so the path
    * is a glob (the file source lists only what a glob matches) that
    * can match nothing but that file (ReplayGlobSpec).
    */
  private[graft] def tableGlob(dir: String, table: String): String = {
    def esc(p: String): String = p.flatMap {
      case c @ ('\\' | '{' | '}' | '[' | ']' | '*' | '?' | ',') => s"\\$c"
      case c => c.toString
    }
    s"${esc(dir)}/{${esc(table)}.parquet}"
  }

  /** Drive an AvailableNow streaming plan to completion through a
    * memory sink and hand back its rows as a local DataFrame, then drop
    * the sink table and delete the checkpoint dir so repeated
    * verify/bench runs in one session leak neither temp dirs nor
    * driver-memory catalog entries. The memory sink already buffers the
    * full result on the driver, so the collect adds no new scale
    * hazard — this is the test-harness sink; a production stream writes
    * to a durable parquet/kafka sink with a persistent checkpoint.
    */
  private def runAvailableNow(s: SparkSession, out: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    val name = "stq_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchDir("stq_ckpt")
    // Stateful operators create one state-store instance per shuffle
    // partition, each paying a per-batch load+commit (+fsync when the
    // checkpoint is on real disk) — on a bounded replay of a dim-sized
    // table that fixed cost dominates the run, so pin the STREAM's
    // state partitioning low (it is captured at query start; the
    // session conf is restored right after). A production stream over
    // real volume would keep the session default. 2 was measured
    // against 8 across the qst family (r15): state in every row is
    // KB-sized (per-window/lang/segment cardinality), so fewer, larger
    // stores only remove per-store fixed cost.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    val q = try {
      out.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    q.awaitTermination()
    val sink = s.table(name)
    val local = s.createDataFrame(sink.collect().toSeq.asJava, sink.schema)
    s.catalog.dropTempView(name)
    java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    local
  }

  /** Throwaway harness dirs (stream checkpoints, sentinel drop files)
    * go on tmpfs when the box has one: a replay checkpoint's offset/
    * commit logs and state deltas are fsync'd per micro-batch, and
    * durability of a dir we delete three lines later is not part of
    * what any query measures (the temp LAKES stay on real disk — their
    * IO IS the operator under test). Falls back to java.io.tmpdir.
    */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
  }

  /** Streaming replay of `events`, whose TIMESTAMP(NANOS) column needs
    * the same nanos-as-long + µs reconstruction as the batch loader
    * ([[Tables.load]]) — [[replayTable]]'s schema-passthrough would
    * hand the converted schema to a reader seeing raw nanos.
    */
  private def replayEvents(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    graft.model.Tables.normalizeEventTs(
      s.readStream.schema(rawSchema).parquet(tableGlob(dir, "events")))
  }

  /** Materialize `rows` as a one-file parquet dir, hand `f` a stream
    * over it, and delete the dir afterwards — the far-future-sentinel
    * arm of the streaming-equivalence queries. `f` must drain the
    * stream before returning (runAvailableNow does).
    */
  private def withSentinelStream(s: SparkSession, rows: DataFrame,
      schema: String)(f: DataFrame => DataFrame): DataFrame = {
    val sentDir = scratchDir("stq_sent")
    try {
      rows.coalesce(1).write.mode("overwrite").parquet(sentDir.toString)
      f(s.readStream.schema(schema).parquet(sentDir.toString))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(sentDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** 2100-01-01 in epoch-µs: past every testdata event's watermark
    * horizon, so a sentinel at this instant deterministically flushes
    * all real streaming state without a max(ts) pre-scan.
    */
  private val SentinelUs = 4102444800000000L

  private val normSql =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Shared oracle CTE chain replaying the bundled BPE merge table
    * ([[graft.text.Bpe.fixture]] — the SINGLE source of truth: the
    * VALUES list below is generated from the same resource the engine
    * encodes with) as a rank-ordered `replace` sweep over a
    * delimiter-encoded token string: tokens joined by `||` and flanked
    * by `|`, so replacing `|l||r|` with `|lr|` is one left-to-right
    * non-overlapping BPE sweep (equivalent to canonical min-rank-first
    * for a trainer-produced table — argument in Bpe.scala, equivalence
    * pinned by BpeSpec). Terminates after exactly `merges.length`
    * recursive steps (the rank join empties). Queries using it must
    * open with `WITH RECURSIVE`. Exposes `bpe(doc_id, n_tok_bpe,
    * bpe_s)` over the documents table.
    */
  private lazy val bpeCteSql: String = {
    def esc(x: String) = x.replace("'", "''")
    // Delimiter-soundness guard: the sweep encodes token boundaries
    // with '|' flanks and '||' separators, which is ambiguous the
    // moment any merge token (and hence any corpus codepoint a merge
    // touches) contains a literal '|' — the replace sweep would
    // corrupt boundaries while the engine treats '|' as an ordinary
    // codepoint. The bundled table is '|'-free; a retrained table
    // that is not must switch this CTE to a non-printable delimiter.
    require(graft.text.Bpe.fixture.merges.forall { case (l, r) =>
      !l.contains('|') && !r.contains('|') },
      "bpeCteSql delimiter '|' occurs in a merge token — the replace " +
        "sweep oracle is unsound for this table; re-encode with a " +
        "delimiter absent from the vocabulary")
    val vals = graft.text.Bpe.fixture.merges.zipWithIndex.map {
      case ((l, r), i) =>
        s"($i,'${esc("|" + l + "||" + r + "|")}','${esc("|" + l + r + "|")}')"
    }.mkString(",")
    val nm = graft.text.Bpe.fixture.merges.length
    s"""bpem(rk, pat, rep) AS (SELECT * FROM (VALUES $vals) v(rk, pat, rep)),
      bpebase AS (SELECT doc_id, CASE WHEN $normSql = '' THEN ''
          ELSE '|' || array_to_string(string_split($normSql, ''), '||') || '|' END AS s
        FROM documents),
      bpest AS (SELECT doc_id, s, 0 AS it FROM bpebase
        UNION ALL
        SELECT bpest.doc_id, replace(bpest.s, bpem.pat, bpem.rep), bpest.it + 1
        FROM bpest JOIN bpem ON bpem.rk = bpest.it),
      bpe AS (SELECT doc_id, CASE WHEN s = '' THEN 0
          ELSE len(string_split(s, '||')) END AS n_tok_bpe, s AS bpe_s
        FROM bpest WHERE it = $nm)"""
  }

  /** Vocab-id VALUES for oracles consuming token IDS: merge PRODUCTS
    * only (single-codepoint tokens fall through to `unicode(tok)` —
    * their codepoint, the base-vocab id); a product's id is IdBase +
    * its LOWEST producing rank, matching [[graft.text.Bpe.Table.idOf]]
    * exactly (two merges can concatenate to the same string; the
    * first wins on both sides). Generated from the same resource the
    * engine encodes with.
    */
  private lazy val bpeVocabCteSql: String = {
    def esc(x: String) = x.replace("'", "''")
    val seen = scala.collection.mutable.HashSet.empty[String]
    val vals = graft.text.Bpe.fixture.merges.zipWithIndex.flatMap {
      case ((l, r), i) =>
        val p = l + r
        if (seen.add(p)) Some(s"('${esc(p)}',${graft.text.Bpe.IdBase + i})")
        else None
    }.mkString(",")
    s"bpev(tok, id) AS (SELECT * FROM (VALUES $vals) v(tok, id))"
  }

  /** The document-lake maintenance policy closed-form — shared
    * VERBATIM by ql7 (one whole-slice batch) and qst16 (the same
    * batch streamed as keyed per-day micro-batches): the maintained
    * lake's final state is policy-determined, so stream ≡ batch is
    * pinned on the stored artifact itself.
    */
  private lazy val docLakeMaintOracleSql: String =
    s"""WITH u AS (${urlFixtureSql(
        "doc_id % ((SELECT COUNT(*) FROM documents) * 18 // 25)")}),$urlDomainCtes,
        pc AS (SELECT dom.doc_id, dom.canonical_url, d.lang,
            (('0x' || substr(md5(CAST(dom.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90) AS in_corpus
          FROM dom JOIN documents d ON d.doc_id = dom.doc_id),
        cr AS (SELECT canonical_url, MIN(doc_id) AS doc_id FROM pc
          WHERE in_corpus GROUP BY canonical_url),
        crl AS (SELECT cr.canonical_url, cr.doc_id, pc.lang
          FROM cr JOIN pc ON pc.canonical_url = cr.canonical_url
            AND pc.doc_id = cr.doc_id),
        br AS (SELECT canonical_url, MIN(doc_id) AS doc_id FROM pc
          WHERE NOT in_corpus GROUP BY canonical_url),
        brl AS (SELECT br.canonical_url, br.doc_id, pc.lang
          FROM br JOIN pc ON pc.canonical_url = br.canonical_url
            AND pc.doc_id = br.doc_id),
        fin AS (
          SELECT crl.canonical_url, crl.doc_id, crl.lang,
            COALESCE(brl.doc_id, crl.doc_id) AS last_fetch_id
          FROM crl LEFT JOIN brl ON brl.canonical_url = crl.canonical_url
          UNION ALL
          SELECT brl.canonical_url, brl.doc_id, brl.lang, brl.doc_id
          FROM brl WHERE NOT EXISTS (SELECT 1 FROM crl
            WHERE crl.canonical_url = brl.canonical_url))
        SELECT canonical_url, doc_id, lang, last_fetch_id,
          (last_fetch_id <> doc_id) AS refreshed
        FROM fin ORDER BY canonical_url"""

  /** Unrolled K-step BPE-TRAINER oracle — the qs16 unrolled-Lloyd
    * treatment applied to the one other iterative fit in the repo:
    * step i's CTEs count the adjacent pairs of corpus state i (ALL
    * positions, overlapping included), take the argmax with the
    * (count DESC, left ASC, right ASC) tie-break, and sweep it into
    * state i+1 with one `replace` over the same delimiter-encoded
    * string bpeCteSql sweeps (one replace = one left-to-right
    * non-overlapping BPE application). Every chained CTE is
    * MATERIALIZED: DuckDB inlines plain CTEs, and the doubly-consumed
    * state chain would otherwise expand exponentially (measured: the
    * un-materialized form exhausts file handles re-opening the scan
    * 2^K times). Mirrors [[graft.text.BpeTrain.trainMerges]] exactly
    * INCLUDING its stop condition: each b$i keeps only a best pair
    * with count >= 2 (the trainer stops below that), and when a round
    * finds none the LEFT JOIN ON TRUE propagates the state unchanged
    * (COALESCE pattern '|||' cannot occur — tokens are non-empty and
    * '|'-free — so the replace is a no-op) and every later b$j is
    * empty too, so the UNION ALL emits exactly the trainer's
    * early-stopped prefix on ANY corpus, not just ones with K viable
    * merges. Validated against the scripts/train_bpe.py loop at all
    * three SFs during development, and on a pair-exhausting corpus
    * ("abab"/"cd" at K=5 emits the single learned merge).
    */
  private def bpeTrainSql(k: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""st0 AS MATERIALIZED (SELECT doc_id,
        '|' || array_to_string(string_split(n, ''), '||') || '|' AS s
        FROM (SELECT doc_id, $normSql AS n FROM documents
          WHERE doc_id % 10 = 0) q WHERE n <> '')""")
    for (i <- 0 until k) {
      parts += s"""p$i AS MATERIALIZED (SELECT t[j] AS l, t[j+1] AS r, COUNT(*) AS n
        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS j
          FROM (SELECT string_split(s[2:len(s)-1], '||') AS t FROM st$i) tk
          WHERE len(t) > 1) q
        GROUP BY 1, 2)"""
      parts += s"""b$i AS MATERIALIZED (SELECT l, r, n,
        '|' || l || '||' || r || '|' AS pat, '|' || l || r || '|' AS rep
        FROM p$i WHERE n >= 2 ORDER BY n DESC, l, r LIMIT 1)"""
      if (i < k - 1)
        parts += s"""st${i + 1} AS MATERIALIZED (SELECT doc_id,
          replace(st$i.s, COALESCE(b$i.pat, '|||'), COALESCE(b$i.rep, '')) AS s
          FROM st$i LEFT JOIN b$i ON TRUE)"""
    }
    val sel = (0 until k).map(i =>
      s"SELECT $i AS rank, l AS left_tok, r AS right_tok, " +
        s"CAST(n AS BIGINT) AS n_pair FROM b$i")
      .mkString("\nUNION ALL ")
    "WITH " + parts.mkString(",\n") + "\n" + sel + "\nORDER BY rank"
  }

  /** Documents dressed with deterministic id-derived RARE tokens for
    * the n-gram-LM rows: doc_id % 31 = 17 appends ' zq<doc_id % 50>'.
    * With the % 5 target slice, CRT makes the trained zq set exactly
    * the % 50 residues divisible by 5 (the doc_id ≡ 110 (mod 155)
    * class), so rare-but-seen unigrams AND genuinely-OOV tokens both
    * exist at every SF (sf0.01: 13 OOV positions; sf0.1: 129) —
    * the add-one floor and the minCount prune are never no-op arms.
    */
  private def lmDocs(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column = lit(true)): DataFrame =
    t(s, dir, "documents").filter(pred).select(col("doc_id"), col("lang"),
      zqText2.as("text2"))

  /** [[lmDocs]]' text2 as an expression over (doc_id, text), for the
    * rows that dress the stream side or a shared pass the same way.
    */
  private def zqText2: org.apache.spark.sql.Column =
    concat(col("text"),
      when(col("doc_id") % 31 === 17,
        concat(lit(" zq"), (col("doc_id") % 50).cast("string")))
        .otherwise(lit("")))

  private val lmNormSql =
    "lower(trim(regexp_replace(text2, '\\s+', ' ', 'g')))"

  /** Shared oracle chain for the n-gram-LM rows (qt43/qt44): mirrors
    * [[graft.text.NgramLm]] — per-language Stupid Backoff trigram
    * model trained on the doc_id % 5 = 0 slice of the zq-dressed
    * corpus, minCount-2 pruned ratio tables with RAW-count
    * denominators, add-one unigram floor, and the per-document
    * FIXED-POINT mean (floor(s * 2^32) summed as exact BIGINTs —
    * order-independent, bit-for-bit Spark's sum(floor(...)) long
    * aggregate; validated identical across DuckDB thread counts).
    * Ends at `scs(doc_id, lang, n_tok, lm_score)`.
    */
  private lazy val ngramLmCteSql: String =
    s"""dd AS MATERIALIZED (SELECT doc_id, lang,
        text || CASE WHEN doc_id % 31 = 17
          THEN ' zq' || CAST(doc_id % 50 AS VARCHAR) ELSE '' END AS text2
        FROM documents),
      ltok AS MATERIALIZED (SELECT doc_id, lang, string_split(n, ' ') AS t
        FROM (SELECT doc_id, lang, $lmNormSql AS n FROM dd) q WHERE n <> ''),
      ltgt AS MATERIALIZED (SELECT * FROM ltok WHERE doc_id % 5 = 0),
      lunic AS MATERIALIZED (SELECT lang, u.w, COUNT(*) AS c1
        FROM ltgt, unnest(ltgt.t) AS u(w) GROUP BY 1, 2),
      llsc AS MATERIALIZED (SELECT lang, SUM(c1) AS n_tot, COUNT(*) AS v_sz
        FROM lunic GROUP BY lang),
      lbic AS MATERIALIZED (SELECT lang, t[j] AS w1, t[j+1] AS w0, COUNT(*) AS c2
        FROM (SELECT lang, t, unnest(generate_series(1, len(t) - 1)) AS j
          FROM ltgt WHERE len(t) > 1) q GROUP BY 1, 2, 3),
      ltric AS MATERIALIZED (SELECT lang, t[j] AS w2, t[j+1] AS w1,
          t[j+2] AS w0, COUNT(*) AS c3
        FROM (SELECT lang, t, unnest(generate_series(1, len(t) - 2)) AS j
          FROM ltgt WHERE len(t) > 2) q GROUP BY 1, 2, 3, 4),
      lbim AS MATERIALIZED (SELECT b.lang, b.w1, b.w0,
          CAST(b.c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE) AS s2
        FROM lbic b JOIN lunic u ON u.lang = b.lang AND u.w = b.w1
        WHERE b.c2 >= 2),
      ltrm AS MATERIALIZED (SELECT t3.lang, t3.w2, t3.w1, t3.w0,
          CAST(t3.c3 AS DOUBLE) / CAST(b.c2 AS DOUBLE) AS s3
        FROM ltric t3 JOIN lbic b ON b.lang = t3.lang AND b.w1 = t3.w2
          AND b.w0 = t3.w1
        WHERE t3.c3 >= 2),
      lpos AS (SELECT doc_id, lang, j - 1 AS pos, len(t) AS n_tok, t[j] AS w0,
          CASE WHEN j >= 2 THEN t[j-1] END AS w1,
          CASE WHEN j >= 3 THEN t[j-2] END AS w2
        FROM (SELECT doc_id, lang, t,
          unnest(generate_series(1, len(t))) AS j FROM ltok) q),
      lsv AS (SELECT p.doc_id, p.lang, p.pos, p.n_tok,
          CASE WHEN p.pos >= 2 THEN COALESCE(tr.s3, CAST(0.4 AS DOUBLE) * bi.s2,
              CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
              (CAST(COALESCE(u.c1, 0) + 1 AS DOUBLE) /
                CAST(l.n_tot + l.v_sz AS DOUBLE)))
            WHEN p.pos = 1 THEN COALESCE(bi.s2, CAST(0.4 AS DOUBLE) *
              (CAST(COALESCE(u.c1, 0) + 1 AS DOUBLE) /
                CAST(l.n_tot + l.v_sz AS DOUBLE)))
            ELSE CAST(COALESCE(u.c1, 0) + 1 AS DOUBLE) /
              CAST(l.n_tot + l.v_sz AS DOUBLE)
          END AS s
        FROM lpos p
        JOIN llsc l ON l.lang = p.lang
        LEFT JOIN lunic u ON u.lang = p.lang AND u.w = p.w0
        LEFT JOIN lbim bi ON bi.lang = p.lang AND bi.w1 = p.w1
          AND bi.w0 = p.w0
        LEFT JOIN ltrm tr ON tr.lang = p.lang AND tr.w2 = p.w2
          AND tr.w1 = p.w1 AND tr.w0 = p.w0),
      scs AS MATERIALIZED (SELECT doc_id, lang, CAST(n_tok AS INT) AS n_tok,
          (CAST(SUM(CAST(floor(s * CAST(4294967296 AS DOUBLE)) AS BIGINT))
              AS DOUBLE) / CAST(4294967296 AS DOUBLE)) /
            CAST(n_tok AS DOUBLE) AS lm_score
        FROM lsv GROUP BY doc_id, lang, n_tok)"""

  /** Unrolled-SQL oracle for qt46: replays [[graft.text.Classifier
    * .trainQuality]]'s K=8 batch-gradient steps as a
    * materialized-CTE chain (the qs16/qt39 unrolled-fit precedent) —
    * per-step gradient sums as floor(g*2^32) BIGINTs (the
    * order-independent fixed-point device), dense weight arrays
    * rebuilt per step for the ordered margin fold (list_reduce ≡ the
    * engine's 0.0-seeded aggregate in IEEE, the qt28 equivalence),
    * Elliott probabilities 0.5 + 0.5*(m/(1+|m|)) (rational — exp()
    * is barred by the measured libm/StrictMath divergence), and a
    * CASE-guarded update so buckets outside a step's gradient stay
    * bit-identical to the prior step. MATERIALIZED is load-bearing:
    * DuckDB inlines plain CTEs and a chained per-step state would
    * expand exponentially (the r15 BpeTrain lesson). Step 1 is
    * special-cased to p = 0.5 exactly (all-zero weights), mirroring
    * the engine's step-0 shortcut.
    */
  /** The full release-verdict CTE prefix — qx4's content half
    * (boilerplate-clean -> exact dedup -> n-gram decontamination)
    * and qx10's provenance half (canonical URL -> URL dedup ->
    * blocklist -> per-domain cap -> quality floor), ending at the
    * per-doc `content` / `prov` verdict tables. Shared verbatim by
    * qx11, qx13 and qx14 so the three release composites cannot
    * drift.
    */
  private lazy val releaseVerdictCtes: String = s"""u AS (${urlFixtureSql("doc_id % 120")}),$urlDomainCtes,
        b AS (SELECT doc_id, domain, canonical_url,
            MIN(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
            list_contains(['site12.com', 'site26.co.uk'], domain) AS blocked
          FROM dom),
        r AS (SELECT doc_id, (rk <= 2) AS in_cap FROM (
          SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY domain
            ORDER BY ('0x' || substr(md5('domcap:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
              doc_id) AS rk
          FROM b WHERE doc_id = canonical_id AND NOT blocked)),
        tx AS (SELECT doc_id,
            string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
          FROM documents),
        sc AS (SELECT doc_id,
            list_reduce(list_transform(toks,
              t2 -> CAST((('0x' || substr(md5('qc:' || t2), 1, 15))::BIGINT % 4096) % 997 AS DOUBLE)
                   / 997.0 - 0.5),
              (x, y) -> x + y) / len(toks) AS score
          FROM tx),
        d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
          FROM documents),
        c AS (SELECT doc_id, toks,
          CASE WHEN len(toks) <= 8 THEN 1 ELSE (len(toks) - 8 + 7) // 8 + 1 END AS nc
          FROM d),
        useg AS (SELECT doc_id, toks, unnest(generate_series(1, nc)) AS i FROM c),
        e AS (SELECT doc_id, i - 1 AS pos,
          array_to_string(toks[(i-1)*8 + 1 : (i-1)*8 + 8], ' ') AS seg FROM useg),
        k AS (SELECT e.*, ('0x' || substr(md5(seg), 1, 15))::BIGINT AS h FROM e),
        f AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM k GROUP BY h),
        j AS (SELECT k.doc_id, k.pos, k.seg, f.df FROM k JOIN f ON f.h = k.h),
        cl AS (SELECT doc_id, COUNT(*) AS n_seg,
          SUM(CASE WHEN df > 2 THEN 1 ELSE 0 END) AS n_dropped,
          COALESCE(string_agg(CASE WHEN df <= 2 THEN seg END, ' ' ORDER BY pos), '') AS clean_text
          FROM j GROUP BY doc_id),
        sp AS (SELECT cl.*,
          CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
            THEN 'train' ELSE 'eval' END AS split FROM cl),
        can AS (SELECT sp.*,
          MIN(doc_id) OVER (PARTITION BY
            md5(lower(trim(regexp_replace(clean_text, '\\s+', ' ', 'g'))))) AS canonical_id
          FROM sp),
        ct AS (SELECT doc_id, split,
          string_split(lower(trim(regexp_replace(clean_text, '\\s+', ' ', 'g'))), ' ') AS ctoks
          FROM sp),
        g8 AS (SELECT doc_id, split,
            unnest(list_distinct(list_transform(generate_series(1, len(ctoks) - 7),
              i -> ('0x' || substr(md5(array_to_string(ctoks[i:i+7], ' ')), 1, 15))::BIGINT))) AS g
          FROM ct WHERE len(ctoks) >= 8),
        eg AS (SELECT DISTINCT g FROM g8 WHERE split = 'eval'),
        sh AS (SELECT t.doc_id, COUNT(*) AS n_shared
          FROM g8 t JOIN eg ON eg.g = t.g WHERE t.split = 'train'
          GROUP BY t.doc_id),
        content AS (SELECT cn.doc_id,
          (cn.split = 'train' AND cn.doc_id = cn.canonical_id
            AND COALESCE(sh.n_shared, 0) = 0 AND cn.clean_text <> '') AS content_keep
          FROM can cn LEFT JOIN sh ON sh.doc_id = cn.doc_id),
        prov AS (SELECT b.doc_id,
          ((b.doc_id = b.canonical_id) AND NOT b.blocked
            AND COALESCE(r.in_cap, FALSE) AND sc.score >= -0.08) AS provenance_keep
          FROM b LEFT JOIN r ON r.doc_id = b.doc_id
          JOIN sc ON sc.doc_id = b.doc_id)"""

  /** qx13's CCNet LM-quality CTE segment (Stupid Backoff scores +
    * tertile thresholds + the "not tail" gate), shared by qx13 and
    * qx14.
    */
  private lazy val lmQualityCtes: String = s"""$ngramLmCteSql,
        smp AS (SELECT lang, lm_score, doc_id FROM scs WHERE doc_id % 3 = 0),
        rk AS (SELECT lang, lm_score,
            ROW_NUMBER() OVER (PARTITION BY lang ORDER BY lm_score, doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY lang) AS m FROM smp),
        th AS (SELECT lang,
            MAX(CASE WHEN rn = CAST(ceil(CAST(m AS DOUBLE) / 3.0) AS BIGINT)
              THEN lm_score END) AS t1,
            MAX(CASE WHEN rn = CAST(ceil(2.0 * CAST(m AS DOUBLE) / 3.0) AS BIGINT)
              THEN lm_score END) AS t2
          FROM rk GROUP BY lang),
        qual AS (SELECT s.doc_id,
            COALESCE(s.lm_score > th.t1, FALSE) AS quality_keep
          FROM scs s LEFT JOIN th ON th.lang = s.lang)"""

  /** qs34's closed-form occupancy/refit oracle — shared VERBATIM by
    * its streaming twin qst22 (the strongest streaming≡batch pin).
    */
  private lazy val qs34OracleSql: String = """WITH old AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 8 <> 0),
        bat AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 8 = 0),
        seeds AS (SELECT embedding AS ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM old ORDER BY vec_id LIMIT 8)),
        czero AS (SELECT list_transform(ce, x -> CAST(x AS DOUBLE)) AS c0d
          FROM seeds WHERE cell = 0),
        batd AS (SELECT b.vec_id,
            list_transform(range(1, len(b.embedding) + 1),
              i -> CAST(CAST(b.embedding[i] AS DOUBLE) * 0.1 + czero.c0d[i] * 0.9 AS FLOAT)) AS embedding
          FROM bat b, czero),
        ao AS (SELECT vec_id, cell FROM (
          SELECT o.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY o.vec_id
            ORDER BY list_reduce(list_transform(range(1, len(o.embedding) + 1),
              i -> (CAST(o.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                 * (CAST(o.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM old o CROSS JOIN seeds c) q WHERE rk = 1),
        ab AS (SELECT vec_id, cell FROM (
          SELECT b.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY b.vec_id
            ORDER BY list_reduce(list_transform(range(1, len(b.embedding) + 1),
              i -> (CAST(b.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                 * (CAST(b.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM batd b CROSS JOIN seeds c) q WHERE rk = 1),
        occ AS (SELECT cell, CAST(SUM(in_fit) AS BIGINT) AS n_fit,
            CAST(COUNT(*) AS BIGINT) AS n_now
          FROM (SELECT cell, 1 AS in_fit FROM ao
                UNION ALL SELECT cell, 0 FROM ab) u GROUP BY cell),
        tot AS (SELECT MAX(n_fit) AS mf, CAST(SUM(n_fit) AS BIGINT) AS tf,
            MAX(n_now) AS mn, CAST(SUM(n_now) AS BIGINT) AS tn FROM occ)
        SELECT CAST(occ.cell AS INT) AS cell,
          CAST(occ.n_fit AS INT) AS n_fit, CAST(occ.n_now AS INT) AS n_now,
          CAST(occ.n_now - occ.n_fit AS INT) AS growth,
          (2 * tot.mf * 8 >= 3 * tot.tf) AS refit_at_fit,
          (2 * tot.mn * 8 >= 3 * tot.tn) AS refit
        FROM occ, tot ORDER BY occ.cell"""

  /** qs35/qs36's shared drift-fixture CTEs: the qs34 dressed batch,
    * the drifted union, the both-region query set, and the
    * brute-force truth. */
  private lazy val ivfDriftFixtureCtes: String = """old AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 8 <> 0),
        oseeds AS (SELECT embedding AS ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM old ORDER BY vec_id LIMIT 8)),
        czero AS (SELECT list_transform(ce, x -> CAST(x AS DOUBLE)) AS c0d
          FROM oseeds WHERE cell = 0),
        batd AS (SELECT b.vec_id,
            list_transform(range(1, len(b.embedding) + 1),
              i -> CAST(CAST(b.embedding[i] AS DOUBLE) * 0.1 + czero.c0d[i] * 0.9 AS FLOAT)) AS embedding
          FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 8 = 0) b, czero),
        ud AS (SELECT vec_id, embedding FROM old
          UNION ALL SELECT vec_id, embedding FROM batd),
        qv AS (SELECT vec_id AS query_id, embedding AS qe FROM ud
          WHERE vec_id < 4 OR (vec_id % 8 = 0 AND vec_id < 32)),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        br0 AS (SELECT qv.query_id, u.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(u.embedding) + 1),
              i -> CAST(u.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(u.embedding) + 1),
                i -> CAST(u.embedding[i] AS DOUBLE) * CAST(u.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM ud u, qv WHERE u.vec_id <> qv.query_id),
        br AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM br0) WHERE rk <= 5)"""

  /** qs35's FROZEN serving arm (old-corpus models over the drifted
    * union — the qs27 ADC chain). */
  private lazy val ivfFrozenArmCtes: String = """opseeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM old ORDER BY vec_id LIMIT 256)),
        ocb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM opseeds s CROSS JOIN range(0, 16) t(j)),
        oenc AS (SELECT vec_id, j, code FROM (
          SELECT u.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY u.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(u.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(u.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM ud u CROSS JOIN ocb cb) WHERE rk = 1),
        oca AS (SELECT vec_id, cell FROM (
          SELECT u.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(u.embedding) + 1),
                i -> (CAST(u.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(u.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM ud u CROSS JOIN oseeds c) WHERE rk = 1),
        oqp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN oseeds c) WHERE rk <= 4),
        opj AS (SELECT enc.vec_id, qp.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qp.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM oenc enc JOIN ocb cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN oca ca ON ca.vec_id = enc.vec_id
          JOIN oqp qp ON qp.cell = ca.cell AND enc.vec_id <> qp.query_id),
        op0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM opj GROUP BY vec_id, query_id),
        op1 AS (SELECT op0.query_id, op0.neighbor_id,
            num / (sqrt(rn) * sqrt(qn.qnsq)) AS cosine
          FROM op0 JOIN qn ON qn.query_id = op0.query_id),
        op5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM op1) WHERE rk <= 5),
        ohit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM op5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id)"""

  /** The seed-fit REFIT arm (coarse cells + PQ codebooks re-seeded
    * from the drifted union), shared by qs35 and qs36 — qs36's Lloyd
    * arm reuses its nseeds/nca/nqp cell chain. */
  private lazy val ivfRefitSeedArmCtes: String = """nseeds AS (SELECT embedding AS ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM ud ORDER BY vec_id LIMIT 8)),
        npseeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM ud ORDER BY vec_id LIMIT 256)),
        ncb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM npseeds s CROSS JOIN range(0, 16) t(j)),
        nenc AS (SELECT vec_id, j, code FROM (
          SELECT u.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY u.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(u.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(u.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM ud u CROSS JOIN ncb cb) WHERE rk = 1),
        nca AS (SELECT vec_id, cell FROM (
          SELECT u.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(u.embedding) + 1),
                i -> (CAST(u.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(u.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM ud u CROSS JOIN nseeds c) WHERE rk = 1),
        nqp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN nseeds c) WHERE rk <= 4),
        npj AS (SELECT enc.vec_id, qp.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qp.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM nenc enc JOIN ncb cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN nca ca ON ca.vec_id = enc.vec_id
          JOIN nqp qp ON qp.cell = ca.cell AND enc.vec_id <> qp.query_id),
        np0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM npj GROUP BY vec_id, query_id),
        np1 AS (SELECT np0.query_id, np0.neighbor_id,
            num / (sqrt(rn) * sqrt(qn.qnsq)) AS cosine
          FROM np0 JOIN qn ON qn.query_id = np0.query_id),
        np5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM np1) WHERE rk <= 5),
        nhit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM np5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id)"""

  /** qs36's Lloyd-refined PQ refit arm, GENERATED per subspace (qs16's
    * unrolled-Lloyd layer applied per subspace at serving-grade
    * m=16 × k=256 × subDim=4): each of the 16 subspaces gets one unrolled Lloyd
    * layer — seed slices from the seed arm's `npseeds` (fitLloyd's
    * seeds ARE the lowest-id sample prefix), sample assignment with
    * the (distance, code) tie rule, id-ordered sequential
    * float-into-double means, COALESCE empty codes back to their
    * seed — then the refined DOUBLE codebooks encode the drifted
    * union and score through the shared ADC chain, REUSING the seed
    * arm's `nca`/`nqp` cell assignment (both arms serve the same
    * iters=0 coarse cells, isolating the codebook lever).
    */
  private lazy val ivfRefitLloydArmCtes: String = {
    val perSub = (0 until 16).map { j =>
      val o = j * 4
      s"""lscb_$j AS (SELECT code, list_slice(embedding, ${o + 1}, ${o + 4}) AS ce FROM npseeds),
        la1_$j AS (SELECT vec_id, sub, code FROM (
          SELECT s.vec_id, list_slice(s.embedding, ${o + 1}, ${o + 4}) AS sub, sc.code,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(s.embedding[CAST($o + i AS INT)] AS DOUBLE) - CAST(sc.ce[i] AS DOUBLE))
                   * (CAST(s.embedding[CAST($o + i AS INT)] AS DOUBLE) - CAST(sc.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              sc.code) AS rk
          FROM lsamp s CROSS JOIN lscb_$j sc) WHERE rk = 1),
        la1d_$j AS (SELECT a.code, a.vec_id, t.i, CAST(a.sub[t.i] AS DOUBLE) AS v
          FROM la1_$j a, range(1, 5) t(i)),
        lm1_$j AS (SELECT code, i,
            list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y) / COUNT(*) AS cv
          FROM la1d_$j GROUP BY code, i),
        lc1d_$j AS (SELECT sc.code, t.i, COALESCE(m.cv, CAST(sc.ce[t.i] AS DOUBLE)) AS cv
          FROM lscb_$j sc CROSS JOIN range(1, 5) t(i)
          LEFT JOIN lm1_$j m ON m.code = sc.code AND m.i = t.i),
        lc1_$j AS (SELECT code, list(cv ORDER BY i) AS ce FROM lc1d_$j GROUP BY code)"""
    }.mkString(",\n        ")
    val cbUnion = (0 until 16)
      .map(j => s"SELECT $j AS j, code, ce FROM lc1_$j")
      .mkString(" UNION ALL ")
    s"""lsamp AS (SELECT vec_id, embedding FROM ud ORDER BY vec_id LIMIT 4096),
        $perSub,
        lcb AS ($cbUnion),
        lenc AS (SELECT vec_id, j, code FROM (
          SELECT u.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY u.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(u.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(u.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM ud u CROSS JOIN lcb cb) WHERE rk = 1),
        lpj AS (SELECT enc.vec_id, qp.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qp.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM lenc enc JOIN lcb cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN nca ca ON ca.vec_id = enc.vec_id
          JOIN nqp qp ON qp.cell = ca.cell AND enc.vec_id <> qp.query_id),
        lp0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM lpj GROUP BY vec_id, query_id),
        lp1 AS (SELECT lp0.query_id, lp0.neighbor_id,
            num / (sqrt(rn) * sqrt(qn.qnsq)) AS cosine
          FROM lp0 JOIN qn ON qn.query_id = lp0.query_id),
        lp5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM lp1) WHERE rk <= 5),
        lhit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM lp5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id)"""
  }

  /** qt46's unrolled-GD CTE chain with every CTE name prefixed by `pre`
    * — prefix "" reproduces the standalone oracle; a non-empty prefix
    * lets the chain ride inside a composite's WITH list (qx14) without
    * colliding with the release CTEs (qx13's own `g8`/`dom` would
    * otherwise shadow the gradient/domain tables).
    */
  private def qt46CtesSql(pre: String, textSql: String = "text"): String = {
    val dim = 4096
    val steps = 8
    val eta = "128.0"
    val stop = "['the','a','of','and','to','is','in']"
    val norm = s"lower(trim(regexp_replace($textSql, '\\s+', ' ', 'g')))"
    val sb = new StringBuilder
    sb.append(s"""${pre}dl AS MATERIALIZED (SELECT doc_id,
        CAST(CASE WHEN 50 * len(list_filter(toks, s2 -> list_contains($stop, s2))) >= 3 * len(toks)
          THEN 1 ELSE 0 END AS INT) AS y,
        CAST(len(toks) AS DOUBLE) AS n,
        list_transform(toks, s2 -> CAST(('0x' || substr(md5('qc:' || s2), 1, 15))::BIGINT % $dim AS INT)) AS bs
      FROM (SELECT doc_id, string_split($norm, ' ') AS toks FROM documents) q),
      ${pre}nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM ${pre}dl),
      ${pre}dom AS MATERIALIZED (SELECT unnest(generate_series(0, ${dim - 1})) AS b),
      ${pre}g1 AS MATERIALIZED (SELECT b,
          SUM(CAST(floor((CAST(y AS DOUBLE) - 0.5) / n * 4294967296.0) AS BIGINT)) AS g
        FROM (SELECT unnest(bs) AS b, y, n FROM ${pre}dl) q GROUP BY b),
      ${pre}w1 AS MATERIALIZED (SELECT ${pre}dom.b,
          CASE WHEN ${pre}g1.g IS NULL THEN 0.0
            ELSE $eta * (CAST(${pre}g1.g AS DOUBLE) / 4294967296.0 / ${pre}nn.nd) END AS w
        FROM ${pre}dom LEFT JOIN ${pre}g1 ON ${pre}g1.b = ${pre}dom.b, ${pre}nn),
      ${pre}a1 AS MATERIALIZED (SELECT list(w ORDER BY b) AS wa FROM ${pre}w1)""")
    for (i <- 2 to steps) {
      val p = i - 1
      sb.append(s""",
      ${pre}m$i AS MATERIALIZED (SELECT doc_id, y, n, bs,
          list_reduce(list_transform(bs, b -> ${pre}a$p.wa[b + 1]), (x, z) -> x + z) / n AS m
        FROM ${pre}dl, ${pre}a$p),
      ${pre}g$i AS MATERIALIZED (SELECT b,
          SUM(CAST(floor((CAST(y AS DOUBLE) - (0.5 + 0.5 * (m / (1.0 + abs(m))))) / n * 4294967296.0) AS BIGINT)) AS g
        FROM (SELECT unnest(bs) AS b, y, n, m FROM ${pre}m$i) q GROUP BY b),
      ${pre}w$i AS MATERIALIZED (SELECT ${pre}w$p.b,
          CASE WHEN ${pre}g$i.g IS NULL THEN ${pre}w$p.w
            ELSE ${pre}w$p.w + $eta * (CAST(${pre}g$i.g AS DOUBLE) / 4294967296.0 / ${pre}nn.nd) END AS w
        FROM ${pre}w$p LEFT JOIN ${pre}g$i ON ${pre}g$i.b = ${pre}w$p.b, ${pre}nn),
      ${pre}a$i AS MATERIALIZED (SELECT list(w ORDER BY b) AS wa FROM ${pre}w$i)""")
    }
    sb.toString
  }

  private lazy val qt46OracleSql: String =
    s"""WITH ${qt46CtesSql("")}
      SELECT doc_id, y AS label,
        list_reduce(list_transform(bs, b -> a8.wa[b + 1]), (x, z) -> x + z) / n AS score,
        (list_reduce(list_transform(bs, b -> a8.wa[b + 1]), (x, z) -> x + z) / n > 0.0) AS keep
      FROM dl, a8 ORDER BY doc_id"""

  /** Closed-form oracle for qt47 (DSIR): bigram buckets from the
    * shifted-index transform, both distributions' counts, the
    * add-one-smoothed ratio rebuilt per bucket in the engine's exact
    * division order, the fixed-point ratio mean, and the salted-hash
    * draw against the min-max-normalized weight (with the degenerate
    * max=min corpus keeping nothing — never a NaN compare).
    */
  /** qt47's DSIR CTE chain, parametrized two ways: `pre` prefixes
    * every CTE name (composite embedding, same contract as
    * [[qt46CtesSql]]), and `fitPred` restricts the MODEL FIT — the
    * ratio-LUT counts/totals AND the min/max normalizer — to a
    * doc_id predicate while scoring still covers every document.
    * fitPred = "TRUE" is the full-corpus fit (qt47/qst18); a sample
    * predicate is the CCNet-style frozen-from-a-sample crawl-edge
    * form (qst21).
    */
  private def qt47CtesSql(pre: String, fitPred: String = "TRUE"): String = {
    val dim = 4096
    val stop = "['the','a','of','and','to','is','in']"
    s"""${pre}dt AS MATERIALIZED (SELECT doc_id, toks,
        (50 * len(list_filter(toks, s2 -> list_contains($stop, s2))) >= 3 * len(toks)) AS is_target,
        CASE WHEN len(toks) < 2 THEN []
          ELSE list_transform(generate_series(1, len(toks) - 1),
            i -> CAST(('0x' || substr(md5('ds:' || toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT % $dim AS INT))
        END AS bs
      FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents) q),
      ${pre}ct AS MATERIALIZED (SELECT b, COUNT(*) AS c
        FROM (SELECT unnest(bs) AS b FROM ${pre}dt WHERE is_target AND ($fitPred)) q GROUP BY b),
      ${pre}cr AS MATERIALIZED (SELECT b, COUNT(*) AS c
        FROM (SELECT unnest(bs) AS b FROM ${pre}dt WHERE ($fitPred)) q GROUP BY b),
      ${pre}tot AS MATERIALIZED (SELECT
          (SELECT CAST(SUM(len(bs)) AS BIGINT) FROM ${pre}dt WHERE is_target AND ($fitPred)) AS tt,
          (SELECT CAST(SUM(len(bs)) AS BIGINT) FROM ${pre}dt WHERE ($fitPred)) AS tr),
      ${pre}lut AS MATERIALIZED (SELECT dom.b,
          (CAST(COALESCE(${pre}ct.c, 0) + 1 AS DOUBLE) / CAST(${pre}tot.tt + $dim AS DOUBLE)) /
          (CAST(COALESCE(${pre}cr.c, 0) + 1 AS DOUBLE) / CAST(${pre}tot.tr + $dim AS DOUBLE)) AS r
        FROM (SELECT unnest(generate_series(0, ${dim - 1})) AS b) dom
        LEFT JOIN ${pre}ct ON ${pre}ct.b = dom.b LEFT JOIN ${pre}cr ON ${pre}cr.b = dom.b, ${pre}tot),
      ${pre}ra AS MATERIALIZED (SELECT list(r ORDER BY b) AS ra FROM ${pre}lut),
      ${pre}wt AS MATERIALIZED (SELECT doc_id, is_target, len(bs) AS n_grams,
          CASE WHEN len(bs) = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform(bs,
                b -> CAST(floor(${pre}ra.ra[b + 1] * 4294967296.0) AS BIGINT))) AS DOUBLE)
              / 4294967296.0 / CAST(len(bs) AS DOUBLE)
          END AS weight
        FROM ${pre}dt, ${pre}ra),
      ${pre}mx AS (SELECT MAX(weight) AS mw, MIN(weight) AS mn
        FROM ${pre}wt WHERE ($fitPred))"""
  }

  /** qt47's final verdict select over the [[qt47CtesSql]] chain. */
  private def qt47SelectSql(pre: String): String =
    s"""SELECT ${pre}wt.doc_id, ${pre}wt.is_target,
        CAST(${pre}wt.n_grams AS INT) AS n_grams, ${pre}wt.weight,
        CASE WHEN ${pre}mx.mw = ${pre}mx.mn THEN FALSE
          ELSE CAST(('0x' || substr(md5('dsir:' || CAST(${pre}wt.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1048576 AS DOUBLE)
            / 1048576.0 < (${pre}wt.weight - ${pre}mx.mn) / (${pre}mx.mw - ${pre}mx.mn) END AS keep
      FROM ${pre}wt, ${pre}mx ORDER BY ${pre}wt.doc_id"""

  private lazy val qt47OracleSql: String =
    s"WITH ${qt47CtesSql("")}\n      ${qt47SelectSql("")}"

  /** Closed-form oracle for qt48 (temperature-scaled mixture), shared
    * verbatim by its crawl-edge stream twin qst20 — the strongest
    * streaming≡batch pin available: same derived-share arithmetic
    * (sqrt is correctly rounded in IEEE 754, so the oracle reproduces
    * every share bit-for-bit; the Σ sqrt(n_g) denominator rides the
    * fixed-point exact-long device), same LEAST-clamped targets, same
    * salted-hash draw.
    */
  /** qt48's α = 1/2 target-table CTE chain, prefixable for composite
    * embedding (same contract as [[qt46CtesSql]]); ends at the
    * `${pre}tg` target table one row per stratum.
    */
  private def qt48CtesSql(pre: String): String =
    s"""${pre}sz AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS grp_n
          FROM documents GROUP BY lang),
        ${pre}nm AS (SELECT lang, grp_n,
            CAST(FLOOR(SQRT(CAST(grp_n AS DOUBLE)) * 4294967296.0) AS BIGINT) AS num
          FROM ${pre}sz),
        ${pre}wt AS (SELECT CAST(SUM(num) AS BIGINT) AS wsum FROM ${pre}nm),
        ${pre}sh AS (SELECT lang, grp_n,
            CAST(num AS DOUBLE) / CAST(wsum AS DOUBLE) AS share
          FROM ${pre}nm CROSS JOIN ${pre}wt),
        ${pre}tt AS (SELECT MIN(CAST(grp_n AS DOUBLE) / share) AS mix_total FROM ${pre}sh),
        ${pre}tg AS (SELECT ${pre}sh.lang, ${pre}sh.grp_n, ${pre}sh.share,
            CASE WHEN CAST(${pre}sh.grp_n AS DOUBLE) / ${pre}sh.share = ${pre}tt.mix_total
              THEN ${pre}sh.grp_n
              ELSE CAST(LEAST(FLOOR(${pre}sh.share * ${pre}tt.mix_total),
                CAST(${pre}sh.grp_n AS DOUBLE)) AS BIGINT) END AS target_n
          FROM ${pre}sh CROSS JOIN ${pre}tt)"""

  private lazy val qt48OracleSql: String =
    s"""WITH ${qt48CtesSql("")}
        SELECT d.doc_id, d.lang, CAST(tg.grp_n AS INT) AS grp_n, tg.share,
          CAST(tg.target_n AS INT) AS target_n,
          ('0x' || substr(md5('tmix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
            % tg.grp_n < tg.target_n AS keep
        FROM documents d JOIN tg ON tg.lang = d.lang
        ORDER BY d.doc_id"""

  /** Closed-form oracle for qst19 (streamed quality-drift monitor):
    * the deployment-time reference histogram over the ORIGINAL corpus,
    * the drift-dressed stream replay (window = doc_id % 4, the
    * window-3 source change), both binned by the same fixed-edge rule,
    * pivoted to per-window bin columns, and the triangular
    * discrimination Σ (p−q)²/(p+q) written as an EXPLICIT
    * left-associated 8-term sum (rational throughout — no
    * transcendental; the term ORDER is part of the cross-engine
    * contract, so it is spelled out rather than aggregated).
    */
  private lazy val qst19OracleSql: String = {
    val scoreSql =
      """list_reduce(list_transform(toks,
        t2 -> CAST((('0x' || substr(md5('qc:' || t2), 1, 15))::BIGINT % 4096) % 997 AS DOUBLE)
             / 997.0 - 0.5),
        (x, y) -> x + y) / len(toks)"""
    def binSql(scoreRef: String) =
      s"LEAST(GREATEST(CAST(floor(($scoreRef + 0.25) / 0.0625) AS INT), 0), 7)"
    val refCols = (0 until 8).map(k =>
      s"SUM(CASE WHEN bin = $k THEN 1 ELSE 0 END) AS r$k").mkString(", ")
    val winCols = (0 until 8).map(k =>
      s"SUM(CASE WHEN bin = $k THEN 1 ELSE 0 END) AS c$k").mkString(", ")
    val terms = (0 until 8).map { k =>
      val p = s"CAST(wc.c$k AS DOUBLE) / CAST(wc.n AS DOUBLE)"
      val q = s"CAST(rc.r$k AS DOUBLE) / CAST(rc.nr AS DOUBLE)"
      s"CASE WHEN $p + $q > 0.0 THEN ($p - $q) * ($p - $q) / ($p + $q) ELSE 0.0 END"
    }.mkString("\n        + ")
    s"""WITH tx0 AS (SELECT doc_id, string_split($normSql, ' ') AS toks
        FROM documents),
      rb AS (SELECT ${binSql(s"($scoreSql)")} AS bin FROM tx0),
      rc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr, $refCols FROM rb),
      d2 AS (SELECT doc_id,
          text || CASE WHEN doc_id % 4 = 3
            THEN ' zq zq zq zq zq zq zq zq' ELSE '' END AS text2
        FROM documents),
      tx AS (SELECT doc_id,
          string_split(lower(trim(regexp_replace(text2, '\\s+', ' ', 'g'))), ' ') AS toks
        FROM d2),
      sb AS (SELECT CAST(doc_id % 4 AS INT) AS window_id,
          ${binSql(s"($scoreSql)")} AS bin FROM tx),
      wc AS (SELECT window_id, CAST(COUNT(*) AS BIGINT) AS n, $winCols
        FROM sb GROUP BY window_id)
      SELECT wc.window_id, CAST(wc.n AS INT) AS n_docs,
        ($terms) AS drift,
        (($terms) > 0.1) AS alert
      FROM wc, rc ORDER BY wc.window_id"""
  }

  /** Documents dressed up as a crawl-URL table: deterministic
    * id-derived URLs exercising every canonicalization rule — mixed
    * scheme/host case, userinfo, www, trailing host dots, https (:443
    * stripped), http (:443 KEPT — non-default) and non-default (:8080)
    * ports, trailing slashes, tracking + unsorted query params,
    * fragments, co.uk-style second-level registries, and *.github.io
    * shared-hosting sites (the arm only the public-suffix table gets
    * right) across 40 registrable domains.
    *
    * `pathMod > 0` folds the article path onto `doc_id % pathMod`:
    * every canonicalization-RELEVANT arm divides pathMod (2, 3, 4, 6,
    * 8, 40 | 120) while the transport-noise arms (www %5, slash %7,
    * userinfo %9, dot %11, fragment %8-partial) vary freely — so docs
    * in one residue class carry DIFFERENT raw URLs that canonicalize
    * to ONE key, the genuine duplicate structure qt30/qx10 dedup on.
    */
  private def urlsFromDocs(s: SparkSession, dir: String,
      pathMod: Int = 0,
      pred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val pathId =
      if (pathMod > 0) col("doc_id") % pathMod else col("doc_id")
    t(s, dir, "documents").filter(pred)
      .select(col("doc_id")).withColumn("url", concat(
      when(col("doc_id") % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
      when(col("doc_id") % 9 === 4,
        concat(lit("u"), (col("doc_id") % 5).cast("string"), lit(":pw@")))
        .otherwise(""),
      when(col("doc_id") % 5 === 0, "WWW.").otherwise(""),
      when(col("doc_id") % 3 === 0, "news.").otherwise(""),
      lit("Site"), (col("doc_id") % 40).cast("string"), lit("."),
      when(col("doc_id") % 4 === 0, "com")
        .when(col("doc_id") % 4 === 1, "org")
        .when(col("doc_id") % 4 === 2, "co.uk")
        .when(col("doc_id") % 8 === 3, "github.io").otherwise("io"),
      when(col("doc_id") % 11 === 7, ".").otherwise(""),
      when(col("doc_id") % 6 === 0, ":443")
        .when(col("doc_id") % 6 === 1, ":443")
        .when(col("doc_id") % 6 === 3, ":8080").otherwise(""),
      lit("/articles/"), pathId.cast("string"),
      when(col("doc_id") % 7 === 0, "/").otherwise(""),
      lit("?utm_source=feed&ref="), (col("doc_id") % 3).cast("string"),
      lit("&utm_campaign=x&b=2&a=1"),
      when(col("doc_id") % 8 === 0, "#sec").otherwise("")))
  }

  /** [[urlsFromDocs]]' closed-form SQL twin (a SELECT, used as a CTE
    * body by the qt26/qt27/qt29/qt30/qx10 oracles). `pathExpr`
    * mirrors the `pathMod` arm.
    */
  private def urlFixtureSql(pathExpr: String = "doc_id") = s"""SELECT doc_id,
      (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
      (CASE WHEN doc_id % 9 = 4 THEN 'u' || CAST(doc_id % 5 AS VARCHAR) || ':pw@' ELSE '' END) ||
      (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
      (CASE WHEN doc_id % 3 = 0 THEN 'news.' ELSE '' END) ||
      'Site' || CAST(doc_id % 40 AS VARCHAR) || '.' ||
      (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'org'
         WHEN 2 THEN 'co.uk'
         ELSE (CASE WHEN doc_id % 8 = 3 THEN 'github.io' ELSE 'io' END) END) ||
      (CASE WHEN doc_id % 11 = 7 THEN '.' ELSE '' END) ||
      (CASE WHEN doc_id % 6 = 0 THEN ':443' WHEN doc_id % 6 = 1 THEN ':443'
            WHEN doc_id % 6 = 3 THEN ':8080' ELSE '' END) ||
      '/articles/' || CAST($pathExpr AS VARCHAR) ||
      (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
      '?utm_source=feed&ref=' || CAST(doc_id % 3 AS VARCHAR) ||
      '&utm_campaign=x&b=2&a=1' ||
      (CASE WHEN doc_id % 8 = 0 THEN '#sec' ELSE '' END) AS url
    FROM documents"""

  /** graft.text.Urls.bundledPsl (the parsed resource — SINGLE source
    * of truth with the engine) as a pivoted DuckDB VALUES table body:
    * (key, has_plain, has_wild, has_exc).
    */
  private lazy val pslRulesValuesSql = graft.text.Urls.bundledPsl
    .map(r => s"('${r.key}',${r.hasPlain},${r.hasWild},${r.hasExc})")
    .mkString(",")

  /** The canonicalize + PSL-domain CTE chain shared by every URL
    * oracle: mirrors Urls.canonicalizeUrl (userinfo / trailing-dot /
    * www / default-port / tracking-param / slash rules) and
    * Urls.registrableDomainsPsl (the FULL publicsuffix.org algorithm
    * over the bundled rule resource: longest exception rule first,
    * else longest plain/wildcard match — a wildcard tail of k labels
    * covers k+1 — else the implicit `*`; registrable = public suffix
    * + 1 label, host itself when the host IS a suffix). Expects a
    * `u(doc_id, url)` CTE upstream; emits `dom(doc_id, url,
    * canonical_url, domain)`.
    */
  private lazy val urlDomainCtes = s"""
        pslr(sfx, has_plain, has_wild, has_exc) AS (VALUES $pslRulesValuesSql),
        up AS (SELECT doc_id, url,
            lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            lower(regexp_replace(regexp_replace(
                regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                '^.*@', ''), '\\.(:[0-9]+)?$$', '\\1')) AS hostport,
            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
            regexp_extract(url, '^[^#]*?\\?([^#]*)', 1) AS query
          FROM u),
        uh AS (SELECT doc_id, url, scheme, path, query, hostport,
            CASE WHEN scheme = 'https'
                THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$$', '')
              WHEN scheme = 'http'
                THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$$', '')
              ELSE regexp_replace(hostport, '^www\\.', '') END AS host
          FROM up),
        uc AS (SELECT doc_id, url, scheme, host, hostport,
            CASE WHEN path = '' THEN '/'
              WHEN len(path) > 1 THEN regexp_replace(path, '/$$', '')
              ELSE path END AS cpath,
            array_to_string(list_sort(list_filter(string_split(query, '&'),
              q -> q <> '' AND NOT regexp_matches(q, '^(utm_[^=]*|fbclid|gclid)(=|$$)'))), '&') AS cquery
          FROM uh),
        ul AS (SELECT doc_id, url,
            scheme || '://' || host || cpath ||
              (CASE WHEN cquery = '' THEN '' ELSE '?' || cquery END) AS canonical_url,
            string_split(regexp_replace(hostport, ':[0-9]+$$', ''), '.') AS labels
          FROM uc),
        lb AS (SELECT doc_id, url, canonical_url, labels, len(labels) AS n,
            labels[len(labels)] AS l1,
            CASE WHEN len(labels) >= 2 THEN
              array_to_string(list_slice(labels, len(labels)-1, len(labels)), '.') END AS l2,
            CASE WHEN len(labels) >= 3 THEN
              array_to_string(list_slice(labels, len(labels)-2, len(labels)), '.') END AS l3
          FROM ul),
        pslen AS (SELECT *, COALESCE(
            CASE WHEN EXISTS (SELECT 1 FROM pslr WHERE sfx = l3 AND has_exc) THEN 2
                 WHEN EXISTS (SELECT 1 FROM pslr WHERE sfx = l2 AND has_exc) THEN 1
                 WHEN EXISTS (SELECT 1 FROM pslr WHERE sfx = l1 AND has_exc) THEN 0 END,
            GREATEST(
              CASE WHEN EXISTS (SELECT 1 FROM pslr WHERE sfx = l3 AND has_plain) THEN 3 ELSE 1 END,
              CASE WHEN n >= 4 AND EXISTS (SELECT 1 FROM pslr WHERE sfx = l3 AND has_wild) THEN 4 ELSE 1 END,
              CASE WHEN EXISTS (SELECT 1 FROM pslr WHERE sfx = l2 AND has_plain) THEN 2 ELSE 1 END,
              CASE WHEN n >= 3 AND EXISTS (SELECT 1 FROM pslr WHERE sfx = l2 AND has_wild) THEN 3 ELSE 1 END,
              CASE WHEN n >= 2 AND EXISTS (SELECT 1 FROM pslr WHERE sfx = l1 AND has_wild) THEN 2 ELSE 1 END,
              1)) AS ps
          FROM lb),
        dom AS (SELECT doc_id, url, canonical_url,
            CASE WHEN n > ps THEN array_to_string(list_slice(labels, n - ps, n), '.')
              ELSE array_to_string(labels, '.') END AS domain
          FROM pslen)"""

  /** The MinHash band-index CTE chain (d → tok → mh → band) shared by
    * the pair oracles and qd13's bucket histogram. `band` carries one
    * row per (doc, band ordinal, band key) — grouping on (b, bk)
    * mirrors the engine's folded hash60(b || ":" || bandHex) bucket.
    */
  private val minhashBandCtes =
    s"""d AS (SELECT doc_id, list_sort(list_distinct(string_split($normSql, ' '))) AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
        mh AS (
          SELECT doc_id, i,
            MIN(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || t), 1, 15))::BIGINT) AS v
          FROM tok CROSS JOIN generate_series(0, 15) g(i) GROUP BY doc_id, i),
        band AS (
          SELECT doc_id, i // 4 AS b,
            md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS bk
          FROM mh GROUP BY doc_id, i // 4)"""

  /** qd3's oracle body (no ORDER BY) — the exact-Jaccard-verified
    * MinHash/LSH pair set, reused as the input graph of qd6's
    * connected-components oracle. `maxBucket > 0` reproduces the
    * engine's hot-bucket guard (qd12): band buckets holding more than
    * `maxBucket` docs are dropped before candidate generation.
    */
  private def minhashPairsSql(maxBucket: Int = 0): String = {
    val capCtes = if (maxBucket > 0)
      s"""
        bs AS (SELECT b, bk, COUNT(*) AS n FROM band GROUP BY b, bk),
        keep AS (SELECT band.doc_id, band.b, band.bk FROM band
          JOIN bs ON bs.b = band.b AND bs.bk = band.bk
          WHERE bs.n <= $maxBucket),""" else ""
    val src = if (maxBucket > 0) "keep" else "band"
    s"""WITH $minhashBandCtes,
        dh AS (SELECT doc_id, toks,
          list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS toks_h
          FROM d),$capCtes
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM $src a JOIN $src b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
        sz AS (SELECT doc_id, len(toks) AS n FROM d),
        inter AS (
          SELECT c.id_a, c.id_b, len(list_intersect(da.toks_h, db.toks_h)) AS inter
          FROM cand c JOIN dh da ON da.doc_id = c.id_a JOIN dh db ON db.doc_id = c.id_b)
        SELECT i.id_a, i.id_b,
          i.inter / (sa.n + sb.n - i.inter) AS jaccard
        FROM inter i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b
        WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.6"""
  }

  /** qd5's oracle body — shared verbatim by qd7_ngram_jaccard_lake: the
    * broadcast and shuffle arms are result-identical by contract, so
    * one oracle pins both.
    */
  private val ngramJaccardSql =
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS tok FROM documents),
        g AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])) AS grams
          FROM d),
        inv AS (SELECT doc_id,
          ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS gr FROM g),
        pc AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM inv a JOIN inv b ON a.gr = b.gr AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        sz AS (SELECT doc_id, len(grams) AS n FROM g)
        SELECT pc.id_a, pc.id_b,
          pc.inter / (sa.n + sb.n - pc.inter) AS jaccard
        FROM pc JOIN sz sa ON sa.doc_id = pc.id_a JOIN sz sb ON sb.doc_id = pc.id_b
        WHERE pc.inter / (sa.n + sb.n - pc.inter) >= 0.5
        ORDER BY id_a, id_b"""

  /** Dictionary-quality oracle (Vocab.dictionaryQuality with topN=200,
    * keepAt=0.8) — shared by the batch arm (qt20) and its streaming
    * ingest-time twin (qst9), pinning arm-equivalence every round.
    */
  private lazy val vocabQualitySql =
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
        v AS (SELECT term FROM (SELECT term, COUNT(*) AS n_occ FROM tok
          GROUP BY term ORDER BY n_occ DESC, term LIMIT 200)),
        sc AS (SELECT t.doc_id, COUNT(*) AS n_tok,
            SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS n_common
          FROM tok t LEFT JOIN v ON v.term = t.term GROUP BY t.doc_id)
        SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
          CAST(n_common AS INT) AS n_common,
          CAST(n_common AS DOUBLE) / CAST(n_tok AS DOUBLE) AS common_ratio,
          CAST(n_common AS DOUBLE) / CAST(n_tok AS DOUBLE) >= CAST(0.8 AS DOUBLE) AS keep
        FROM sc ORDER BY doc_id"""

  /** qt9's oracle body — shared verbatim by qt13_decontaminate_lake
    * (same broadcast/shuffle result-identity contract).
    */
  private val decontaminateSql =
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
        sp AS (SELECT doc_id, toks,
          CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
            THEN 'train' ELSE 'eval' END AS split FROM d),
        g8 AS (SELECT doc_id, split,
            unnest(list_distinct(list_transform(generate_series(1, len(toks) - 7),
              i -> ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT))) AS g
          FROM sp WHERE len(toks) >= 8),
        eg AS (SELECT DISTINCT g FROM g8 WHERE split = 'eval')
        SELECT t.doc_id AS train_id, COUNT(*) AS n_shared_grams
        FROM g8 t JOIN eg ON eg.g = t.g
        WHERE t.split = 'train'
        GROUP BY t.doc_id ORDER BY train_id"""

  /** qd4's oracle body — shared verbatim by qd11_simhash_lake (same
    * broadcast/shuffle result-identity contract).
    */
  private val simhashPairsSql =
    s"""WITH d AS (SELECT doc_id,
          list_transform(list_sort(list_distinct(string_split($normSql, ' '))),
            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
          FROM documents),
        sh AS (SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 60), j ->
            CASE WHEN list_sum(list_transform(hs, h ->
              CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
            THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
          FROM d)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY id_a, id_b"""

  /** qd8's oracle body — shared verbatim by qd10_incremental_lake (same
    * broadcast/shuffle result-identity contract).
    */
  private val incrementalDupSql =
    s"""WITH d AS (SELECT doc_id, $normSql AS norm,
          list_sort(list_distinct(string_split($normSql, ' '))) AS toks FROM documents),
        sp AS (SELECT doc_id, norm, toks,
          CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
            THEN 'corpus' ELSE 'batch' END AS part FROM d),
        dh AS (SELECT doc_id, toks,
          list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS toks_h
          FROM sp),
        tok AS (SELECT doc_id, unnest(toks) AS t FROM sp),
        mh AS (SELECT doc_id, i,
            MIN(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || t), 1, 15))::BIGINT) AS v
          FROM tok CROSS JOIN generate_series(0, 15) g(i) GROUP BY doc_id, i),
        band AS (SELECT doc_id, i // 4 AS bnd,
            md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS bk
          FROM mh GROUP BY doc_id, i // 4),
        cand AS (SELECT DISTINCT bb.doc_id AS batch_id, cb.doc_id AS corpus_id
          FROM band bb
          JOIN sp s1 ON s1.doc_id = bb.doc_id AND s1.part = 'batch'
          JOIN band cb ON bb.bnd = cb.bnd AND bb.bk = cb.bk
          JOIN sp s2 ON s2.doc_id = cb.doc_id AND s2.part = 'corpus'),
        nr AS (SELECT DISTINCT cd.batch_id FROM cand cd
          JOIN dh da ON da.doc_id = cd.batch_id
          JOIN dh db ON db.doc_id = cd.corpus_id
          WHERE len(list_intersect(da.toks_h, db.toks_h))
            / (len(da.toks) + len(db.toks) - len(list_intersect(da.toks_h, db.toks_h)))
            >= 0.6),
        ex AS (SELECT DISTINCT bq.doc_id FROM sp bq
          WHERE bq.part = 'batch' AND EXISTS (
            SELECT 1 FROM sp cq WHERE cq.part = 'corpus' AND cq.norm = bq.norm))
        SELECT s.doc_id,
          (s.doc_id IN (SELECT doc_id FROM ex)) AS dup_exact,
          (s.doc_id IN (SELECT batch_id FROM nr)) AS dup_near
        FROM sp s WHERE s.part = 'batch' ORDER BY s.doc_id"""

  /** Shared content + provenance halves of the release verdict
    * (qx11/qx13): content = qx4's boilerplate-clean → exact-dedup →
    * n-gram decontamination chain; provenance = qx10's canonical-URL →
    * URL-dedup → blocklist → domain-cap → quality-floor chain. Both
    * returned doc-keyed as one boolean each so composites conjoin
    * them without seeing the other side's corpus-sized intermediates.
    */
  private def releaseHalves(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column = lit(true))
      : (DataFrame, DataFrame) = {
    // content half — qx4's chain (cleaned persisted: three
    // consumers, the qd7 no-exchange-reuse class)
    val cleaned = graft.text.Boilerplate.removeBoilerplate(
        t(s, dir, "documents").filter(pred),
        "text", "doc_id", window = 8, maxDf = 2)
      .withColumn("split",
        TextOps.hashSplit(col("doc_id"), Seq(90), Seq("train", "eval")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ann = Dedup.exactDupAnnotate(cleaned, "clean_text", "doc_id")
    val cont = graft.text.Decontaminate.contaminated(
        cleaned.filter(col("split") === "train"),
        cleaned.filter(col("split") === "eval"),
        "clean_text", "doc_id", n = 8)
    val content = ann.join(cont, ann("doc_id") === cont("train_id"), "left")
      .select(col("doc_id"),
        (col("split") === "train" && col("doc_id") === col("canonical_id") &&
          coalesce(col("n_shared_grams"), lit(0L)) === 0 &&
          col("clean_text") =!= "").as("content_keep"))
    // provenance half — qx10's chain
    val blocklist = Seq("site12.com", "site26.co.uk")
    // the qx10 persists (dom: rep agg + annotate join; pAnn: the
    // cap's two passes + the final provenance projection)
    val dom = graft.text.Urls.registrableDomainsPsl(
        urlsFromDocs(s, dir, pathMod = 120, pred = pred),
        "url", "domain")
      .select(col("doc_id"), col("domain"),
        graft.text.Urls.canonicalizeUrl(col("url")).as("canonical_url"))
      .withColumn("blocked", col("domain").isin(blocklist: _*))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val reps = dom.groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("canonical_id"))
    val pAnn = dom.join(reps, "canonical_url")
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val inCap = graft.text.Urls.domainCap(
        pAnn.filter(col("is_canonical") && !col("blocked"))
          .select(col("doc_id"), col("domain")),
        "doc_id", "domain", cap = 2)
      .select(col("doc_id"), col("keep").as("in_cap"))
    val scored = t(s, dir, "documents").filter(pred).select(col("doc_id"),
      TextOps.hashedClassifierScore(col("text"),
        TextOps.stubQualityWeights()).as("score"))
    val prov = pAnn.join(inCap, Seq("doc_id"), "left")
      .join(scored, "doc_id")
      .select(col("doc_id"),
        (col("is_canonical") && !col("blocked") &&
          coalesce(col("in_cap"), lit(false)) &&
          col("score") >= -0.08).as("provenance_keep"))
    (content, prov)
  }

  /** qx14's full six-arm curation verdict (content ∧ provenance ∧
    * CCNet LM gate ∧ trained classifier ∧ DSIR ∧ temperature
    * mixture), shared by qx14 (the verdict row) and qx15 (the
    * verdict MATERIALIZED as the shard-lake artifact). See the qx14
    * QueryDef for the per-arm rationale and measured sole-rejector
    * counts.
    */
  /** `sorted = false` drops the verdict's trailing global sort for
    * callers that only consume the row SET (qx15's kept-set join,
    * qx16/qx17's diff arms — lineageDiff re-sorts its own output):
    * a global sort is a range-partitioner SAMPLING job plus a range
    * exchange plus the sort itself, and the arms PERSIST their
    * verdicts, which pins the sort into the materialization. qx14's
    * own gate row keeps the default — its declared output order IS
    * the contract there.
    */
  private def curationRelease(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column = lit(true),
      fitTag: String = "curation", sorted: Boolean = true): DataFrame = {
    val (content, prov) = releaseHalves(s, dir, pred)
    val docs = lmDocs(s, dir, pred)
    val model = graft.text.NgramLm.train(
      docs.filter(col("doc_id") % 5 === 0), "text2", "lang")
    // Cache lifecycle: this verdict's persists (scores, prepC, prepD,
    // wts) are each referenced MORE THAN ONCE by the returned plan
    // (tertile sample + join; eager fit + verdict arm), so they must
    // outlive this function — Verify/Bench reap them via clearCache
    // right after the row's single execution.
    val scores = graft.text.NgramLm.score(
        docs, "doc_id", "text2", "lang", model)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val quality = graft.text.NgramLm.tertileGate(scores)
      .select(col("doc_id"), col("keep").as("lm_keep"))
    // the three EAGER fits (8-step GD, DSIR ratio LUT, mixture
    // targets), each under its own fit job group
    val (prepC, w) = inFitGroup(s"$fitTag-clf") {
      val prepC = graft.text.Classifier.prepareQuality(
          graft.ops.Partitioning.spread(
            t(s, dir, "documents").filter(pred)),
          "text", "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
      (prepC, graft.text.Classifier.trainQuality(prepC))
    }
    val clf = prepC.select(col("doc_id"),
      (graft.text.Classifier.margin(col("bs"), col("n"), w) > lit(0.0))
        .as("clf_keep"))
    val (prepD, lut) = inFitGroup(s"$fitTag-dsir") {
      val prepD = graft.ops.Partitioning.spread(
          t(s, dir, "documents").filter(pred))
        .select(col("doc_id"),
          TextOps.bindOnce(TextOps.tokens(col("text")))(toks =>
            graft.text.Classifier.stopwordLabel(toks)).as("is_target"),
          graft.text.Dsir.bigramBuckets(col("text")).as("bs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (prepD, graft.text.Dsir.fitRatioLut(prepD, "is_target"))
    }
    val wts = prepD.select(col("doc_id"),
        graft.text.Dsir.importanceWeight(col("bs"), lut).as("weight"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mm = wts.agg(max(col("weight")).as("mw"),
      min(col("weight")).as("mn"))
    val dsir = wts.crossJoin(broadcast(mm))
      .select(col("doc_id"),
        graft.text.Dsir.keepByWeight(col("doc_id"), col("weight"),
          col("mn"), col("mw")).as("dsir_keep"))
    val mix = inFitGroup(s"$fitTag-mix") {
      graft.text.Mixture.temperatureMixtureKeep(
          t(s, dir, "documents").filter(pred), "doc_id", "lang")
        .select(col("doc_id"), col("keep").as("mix_keep"))
    }
    val verdict = content.join(prov, "doc_id")
      .join(quality, Seq("doc_id"), "left")
      .join(clf, "doc_id").join(dsir, "doc_id").join(mix, "doc_id")
      .select(col("doc_id"), col("content_keep"), col("provenance_keep"),
        coalesce(col("lm_keep"), lit(false)).as("lm_keep"),
        col("clf_keep"), col("dsir_keep"), col("mix_keep"),
        (col("content_keep") && col("provenance_keep") &&
          coalesce(col("lm_keep"), lit(false)) &&
          col("clf_keep") && col("dsir_keep") && col("mix_keep"))
          .as("keep"))
    if (sorted) verdict.orderBy(col("doc_id")) else verdict
  }

  /** The qt49/qst24 drift dressing in SQL — window doc_id % 4 = 3's
    * source change (every second token a boilerplate 'zq'). ONE
    * source for both oracles: qst24's containment claim is that its
    * r_ chain is qt49's VERBATIM, so the dressed-text expression must
    * be structurally shared, not coincidentally equal.
    */
  private val qt49DressedSql: String =
    "CASE WHEN doc_id % 4 = 3 THEN text || " +
      "repeat(' zq', len(string_split(lower(trim(regexp_replace(" +
      "text, '\\s+', ' ', 'g'))), ' ')) // 2) ELSE text END"

  /** The clf/dsr/tmx per-doc verdict-arm CTEs over the qc_/ds_/tm_
    * chains — ONE source shared by [[curationCtesSql]] (qx14/qx15)
    * and qst23's admission oracle, so a fix to one arm's SQL can
    * never desynchronize the composites. The ds_ chain's fit
    * predicate (full-corpus vs sample-frozen) lives in the chain
    * generator, not here — this text is predicate-agnostic.
    */
  private lazy val verdictArmCtes: String = """clf AS (SELECT doc_id,
            (list_reduce(list_transform(bs, b -> qc_a8.wa[b + 1]), (x, z) -> x + z) / n > 0.0) AS clf_keep
          FROM qc_dl, qc_a8),
        dsr AS (SELECT ds_wt.doc_id,
            CASE WHEN ds_mx.mw = ds_mx.mn THEN FALSE
              ELSE CAST(('0x' || substr(md5('dsir:' || CAST(ds_wt.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1048576 AS DOUBLE)
                / 1048576.0 < (ds_wt.weight - ds_mx.mn) / (ds_mx.mw - ds_mx.mn) END AS dsir_keep
          FROM ds_wt, ds_mx),
        tmx AS (SELECT d2.doc_id,
            ('0x' || substr(md5('tmix:' || CAST(d2.doc_id AS VARCHAR)), 1, 15))::BIGINT
              % tm_tg.grp_n < tm_tg.target_n AS mix_keep
          FROM documents d2 JOIN tm_tg ON tm_tg.lang = d2.lang)"""

  /** The qx14 oracle's full CTE prefix — release halves, LM quality
    * segment, and the qc_/ds_/tm_ embedded chains plus the clf/dsr/
    * tmx verdict CTEs — shared by qx14's verdict select and qx15's
    * kept-set materialization oracle.
    */
  private lazy val curationCtesSql: String = s"""$releaseVerdictCtes,
        $lmQualityCtes,
        ${qt46CtesSql("qc_")},
        ${qt47CtesSql("ds_")},
        ${qt48CtesSql("tm_")},
        $verdictArmCtes"""

  /** qx14's per-gate verdict SELECT over [[curationCtesSql]]'s
    * terminal CTEs — ONE source shared by qx14 (ordered) and qx16's
    * two release arms (unordered subqueries), so the lineage diff
    * provably diffs the SAME verdict it ships.
    */
  private lazy val curationVerdictSelectSql: String = """SELECT content.doc_id, content_keep, provenance_keep,
          COALESCE(qual.quality_keep, FALSE) AS lm_keep,
          clf.clf_keep, dsr.dsir_keep, tmx.mix_keep,
          (content_keep AND provenance_keep
            AND COALESCE(qual.quality_keep, FALSE)
            AND clf.clf_keep AND dsr.dsir_keep AND tmx.mix_keep) AS keep
        FROM content JOIN prov ON prov.doc_id = content.doc_id
        LEFT JOIN qual ON qual.doc_id = content.doc_id
        JOIN clf ON clf.doc_id = content.doc_id
        JOIN dsr ON dsr.doc_id = content.doc_id
        JOIN tmx ON tmx.doc_id = content.doc_id"""

  /** The release-lineage diff: release N's verdict left-joined to
    * N-1's on doc_id, emitting per-doc status plus six per-gate flip
    * flags — ONE source shared by qx16 (N-1 computed in-memory) and
    * qx17 (N-1 read back from the stored manifest), so the two rows
    * provably ship the same diff semantics. Gates flip because refits
    * move thresholds/weights (lm/clf/dsir), the new crawl steals
    * exact-dup canonicals and domain-cap slots (content/provenance),
    * and mixture targets rescale with per-lang counts (mix).
    */
  private def lineageDiff(vNew: DataFrame, vOld: DataFrame): DataFrame = {
    val gates = Seq("content_keep", "provenance_keep", "lm_keep",
      "clf_keep", "dsir_keep", "mix_keep")
    val o = vOld.select(col("doc_id") +:
      (gates :+ "keep").map(g => col(g).as(s"o_$g")): _*)
    val isNew = col("o_keep").isNull
    vNew.join(o, Seq("doc_id"), "left")
      .select(Seq(
        col("doc_id"),
        isNew.as("is_new"),
        coalesce(col("o_keep"), lit(false)).as("kept_old"),
        col("keep").as("kept_new"),
        when(isNew && col("keep"), "new_admitted")
          .when(isNew, "new_rejected")
          .when(col("o_keep") && col("keep"), "kept")
          .when(col("o_keep"), "dropped")
          .when(col("keep"), "regained")
          .otherwise("rejected").as("status")) ++
        gates.map(g => (!isNew && col(s"o_$g") =!= col(g))
          .as(g.stripSuffix("_keep") + "_flip")): _*)
      .orderBy(col("doc_id"))
  }

  /** The lineage oracle: the proven curation CTE chain run TWICE —
    * the old arm scoped to the pre-crawl corpus by shadowing
    * `documents` with a filtered CTE (main.documents disambiguates
    * the base table) — then diffed. Shared verbatim by qx16 and qx17
    * (whose only delta is routing the N-1 arm through the manifest
    * lake, a value-identity the oracle match itself proves).
    */
  private lazy val lineageOracleSql: String = s"""WITH arm_new AS (SELECT * FROM (
          WITH $curationCtesSql
          $curationVerdictSelectSql)),
        arm_old AS (SELECT * FROM (
          WITH documents AS (SELECT * FROM main.documents WHERE doc_id % 3 <> 1),
          $curationCtesSql
          $curationVerdictSelectSql))
        SELECT n.doc_id,
          o.doc_id IS NULL AS is_new,
          COALESCE(o.keep, FALSE) AS kept_old,
          n.keep AS kept_new,
          CASE WHEN o.doc_id IS NULL AND n.keep THEN 'new_admitted'
               WHEN o.doc_id IS NULL THEN 'new_rejected'
               WHEN o.keep AND n.keep THEN 'kept'
               WHEN o.keep THEN 'dropped'
               WHEN n.keep THEN 'regained'
               ELSE 'rejected' END AS status,
          (o.doc_id IS NOT NULL AND o.content_keep <> n.content_keep) AS content_flip,
          (o.doc_id IS NOT NULL AND o.provenance_keep <> n.provenance_keep) AS provenance_flip,
          (o.doc_id IS NOT NULL AND o.lm_keep <> n.lm_keep) AS lm_flip,
          (o.doc_id IS NOT NULL AND o.clf_keep <> n.clf_keep) AS clf_flip,
          (o.doc_id IS NOT NULL AND o.dsir_keep <> n.dsir_keep) AS dsir_flip,
          (o.doc_id IS NOT NULL AND o.mix_keep <> n.mix_keep) AS mix_flip
        FROM arm_new n LEFT JOIN arm_old o ON o.doc_id = n.doc_id
        ORDER BY n.doc_id"""

  val defs: Seq[QueryDef] = Seq(

    // ---- token counting + quality scoring ----
    QueryDef("qt1_text_stats",
      (s, dir) => {
        val txt = col("text")
        graft.ops.Partitioning.spread(t(s, dir, "documents")).select(
          col("doc_id"),
          TextOps.tokenCountWs(txt).as("n_tok_ws"),
          TextOps.tokenCountRegex(txt).as("n_tok_re"),
          graft.functions.BpeEncode.bpe_token_count(txt).as("n_tok_bpe"),
          length(txt).as("n_chars_raw"),
          TextOps.punctRatio(txt).as("punct_ratio"),
          TextOps.avgTokenLen(txt).as("avg_tok_len"),
          TextOps.stopwordRatio(txt).as("stop_ratio"),
          TextOps.qualityScore(txt).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $bpeCteSql,
        d AS (SELECT doc_id, text, $normSql AS norm FROM documents),
        x AS (SELECT doc_id, text, norm,
          len(string_split(norm, ' ')) AS n_tok_ws,
          len(list_filter(string_split(norm, ' '),
            t -> list_contains(['the','a','of','and','to','is','in'], t))) AS n_stop
          FROM d)
        SELECT x.doc_id,
          CAST(n_tok_ws AS INT) AS n_tok_ws,
          CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_tok_re,
          CAST(bpe.n_tok_bpe AS INT) AS n_tok_bpe,
          CAST(length(text) AS INT) AS n_chars_raw,
          (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / length(text) AS punct_ratio,
          length(replace(norm, ' ', '')) / n_tok_ws AS avg_tok_len,
          n_stop / n_tok_ws AS stop_ratio,
          ((n_stop / n_tok_ws) * 2.0 +
           (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / length(text)) +
           least(n_tok_ws, 100) / 100.0) / 4.0 AS quality
        FROM x JOIN bpe ON bpe.doc_id = x.doc_id ORDER BY x.doc_id""")),

    // ---- language ID heuristic (stopword markers + CJK codepoints) ----
    QueryDef("qt2_lang_id",
      (s, dir) => {
        val txt = col("text")
        t(s, dir, "documents").select(
          col("doc_id"),
          TextOps.langScore(txt, TextOps.LangMarkers(0)._2).as("s_en"),
          TextOps.langScore(txt, TextOps.LangMarkers(1)._2).as("s_es"),
          TextOps.langScore(txt, TextOps.LangMarkers(2)._2).as("s_de"),
          TextOps.langScore(txt, TextOps.LangMarkers(3)._2).as("s_fr"),
          TextOps.cjkCount(txt).as("s_zh"),
          TextOps.langId(txt).as("lang_guess"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, text, string_split($normSql, ' ') AS tok FROM documents),
        sc AS (SELECT doc_id,
          CAST(len(list_filter(tok, t -> list_contains(['the','a','of','and','to','is','in'], t))) AS INT) AS s_en,
          CAST(len(list_filter(tok, t -> list_contains(['el','la','de','y','que','en','los'], t))) AS INT) AS s_es,
          CAST(len(list_filter(tok, t -> list_contains(['der','die','das','und','ist','nicht','ein'], t))) AS INT) AS s_de,
          CAST(len(list_filter(tok, t -> list_contains(['le','la','de','et','les','des','un'], t))) AS INT) AS s_fr,
          CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS INT) AS s_zh
          FROM d)
        SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
          CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
               WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
               WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
               WHEN s_fr >= s_zh THEN 'fr'
               ELSE 'zh' END AS lang_guess
        FROM sc ORDER BY doc_id""")),

    // ---- document fingerprinting ----
    QueryDef("qt3_fingerprint",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp_md5"),
        TextOps.fingerprint60(col("text")).as("fp60"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, md5($normSql) AS fp_md5,
        ('0x' || substr(md5($normSql), 1, 15))::BIGINT AS fp60
        FROM documents ORDER BY doc_id""")),

    // ---- winnowing fingerprint via the custom codegen Expression ----
    QueryDef("qt4_rolling_fingerprint",
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.RollingMinHash.rolling_min_hash(
          TextOps.norm(col("text")), 8).as("rmh"))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, $normSql AS s FROM documents)
        SELECT doc_id,
          list_min(list_transform(range(1, len(s) - 8 + 2), i ->
            (CAST(unicode(s[i]) AS BIGINT) * 27512614111 +
             CAST(unicode(s[i+1]) AS BIGINT) * 887503681 +
             CAST(unicode(s[i+2]) AS BIGINT) * 28629151 +
             CAST(unicode(s[i+3]) AS BIGINT) * 923521 +
             CAST(unicode(s[i+4]) AS BIGINT) * 29791 +
             CAST(unicode(s[i+5]) AS BIGINT) * 961 +
             CAST(unicode(s[i+6]) AS BIGINT) * 31 +
             CAST(unicode(s[i+7]) AS BIGINT)) % 2147483647)) AS rmh
        FROM d ORDER BY doc_id""")),

    // ---- Gopher-style repetition signals (Rae et al. 2021): duplicate-
    // token fraction as a pure column expression; top-bigram fraction
    // as explode + two-level aggregate — the linear relational shape
    // (an array-lambda argmax would be O(n²) per doc and is not). ----
    QueryDef("qt8_repetition",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val top = docs.select(col("doc_id"),
            explode(TextOps.wordBigrams(col("text"))).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
          .groupBy(col("doc_id"))
          .agg((max(col("n")).cast("double") / sum(col("n")))
            .as("top_bigram_frac"))
        docs.select(col("doc_id"),
            TextOps.dupTokenFraction(col("text")).as("dup_token_frac"))
          .join(top, Seq("doc_id"), "left")
          .withColumn("top_bigram_frac",
            coalesce(col("top_bigram_frac"), lit(0.0)))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
        bgs AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i + 1])) AS bg
          FROM d WHERE len(toks) >= 2),
        c AS (SELECT doc_id, bg, COUNT(*) AS n FROM bgs GROUP BY doc_id, bg),
        tb AS (SELECT doc_id, CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_bigram_frac
          FROM c GROUP BY doc_id)
        SELECT d.doc_id,
          CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(d.toks)) AS DOUBLE) / CAST(len(d.toks) AS DOUBLE) AS dup_token_frac,
          COALESCE(tb.top_bigram_frac, CAST(0.0 AS DOUBLE)) AS top_bigram_frac
        FROM d LEFT JOIN tb ON tb.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ---- train/eval n-gram decontamination (GPT-3 app. C / Pile
    // style): hash-split the corpus 90/10, then flag train docs
    // sharing any word 8-gram with the eval slice. Equi-join on the
    // 60-bit gram hash; eval grams broadcast (benchmark-set-sized). ----
    QueryDef("qt9_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("split",
          TextOps.hashSplit(col("doc_id"), Seq(90), Seq("train", "eval")))
        graft.text.Decontaminate.contaminated(
            docs.filter(col("split") === "train"),
            docs.filter(col("split") === "eval"),
            "text", "doc_id", n = 8)
          .orderBy(col("train_id"))
      },
      Some(decontaminateSql)),

    // ---- the SAME decontamination semantics through the lake arm:
    // eval grams shuffled on the 60-bit hash instead of broadcast —
    // the code path when the eval slice outgrows the broadcast budget
    // (e.g. decontaminating against another corpus shard). Oracled
    // against the identical SQL as qt9. ----
    QueryDef("qt13_decontaminate_lake",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("split",
          TextOps.hashSplit(col("doc_id"), Seq(90), Seq("train", "eval")))
        graft.text.Decontaminate.contaminated(
            docs.filter(col("split") === "train"),
            docs.filter(col("split") === "eval"),
            "text", "doc_id", n = 8, broadcastEval = false)
          .orderBy(col("train_id"))
      },
      Some(decontaminateSql)),

    // ---- the THIRD point on the decontamination eval-size ladder: a
    // broadcast Bloom SKETCH of the eval grams pre-filters corpus grams
    // (Spark's native codegen might_contain) BEFORE the shuffle, so the
    // exchange carries only true matches + the fpp margin instead of
    // the whole corpus — the shape when the eval set outgrows the
    // broadcast-JOIN budget but its bits still fit in a task. The exact
    // equi-join verifies survivors (no false positive reaches the
    // result; Bloom has no false negatives), so the oracle is the
    // identical SQL as qt9/qt13 — the gate pins sketch-arm equivalence
    // every round. ----
    QueryDef("qt15_decontaminate_bloom",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("split",
          TextOps.hashSplit(col("doc_id"), Seq(90), Seq("train", "eval")))
        graft.text.Decontaminate.contaminatedBloom(
            docs.filter(col("split") === "train"),
            docs.filter(col("split") === "eval"),
            "text", "doc_id", n = 8)
          .orderBy(col("train_id"))
      },
      Some(decontaminateSql)),

    // ---- sub-document boilerplate removal: segments (8-token chunk
    // windows — the qt5 convention) whose corpus-wide DOCUMENT
    // frequency exceeds 2 are dropped and each doc's remaining text is
    // reassembled in order — the FineWeb/RefinedWeb-style curation
    // pass document-level dedup cannot express (a shared footer
    // repeats across otherwise-distinct pages). All-boilerplate docs
    // survive with empty clean_text. ----
    QueryDef("qt16_boilerplate_removal",
      (s, dir) => graft.text.Boilerplate.removeBoilerplate(
          t(s, dir, "documents"), "text", "doc_id", window = 8, maxDf = 2)
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
          FROM documents),
        c AS (SELECT doc_id, toks,
          CASE WHEN len(toks) <= 8 THEN 1 ELSE (len(toks) - 8 + 7) // 8 + 1 END AS nc
          FROM d),
        u AS (SELECT doc_id, toks, unnest(generate_series(1, nc)) AS i FROM c),
        e AS (SELECT doc_id, i - 1 AS pos,
          array_to_string(toks[(i-1)*8 + 1 : (i-1)*8 + 8], ' ') AS seg FROM u),
        k AS (SELECT e.*, ('0x' || substr(md5(seg), 1, 15))::BIGINT AS h FROM e),
        f AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM k GROUP BY h),
        j AS (SELECT k.doc_id, k.pos, k.seg, f.df FROM k JOIN f ON f.h = k.h)
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_seg,
          CAST(SUM(CASE WHEN df > 2 THEN 1 ELSE 0 END) AS INT) AS n_dropped,
          COALESCE(string_agg(CASE WHEN df <= 2 THEN seg END, ' ' ORDER BY pos), '') AS clean_text
        FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // ---- BM25 ranked retrieval (graft.text.Bm25): inverted-index
    // scoring of a 4-term query over the corpus — the lexical-search
    // pass that pulls topical slices out of a crawl. Map-side term
    // filter BEFORE the one postings shuffle; df and corpus stats
    // broadcast; TakeOrderedAndProject top-k. Scoring is the log-free
    // rational idf (TextOps' +,-,*,/ doctrine) and the per-doc total
    // is a fixed-order pivot sum, so the oracle reproduces every
    // double bit-for-bit. ----
    QueryDef("qt17_bm25_topk",
      (s, dir) => graft.text.Bm25.topK(t(s, dir, "documents"),
        "doc_id", "text",
        queryTerms = Seq("spark", "customer", "vector", "slow"), k = 15),
      Some(s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
        tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
        p AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
          WHERE term IN ('spark', 'customer', 'vector', 'slow')
          GROUP BY doc_id, dl, term),
        dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM p GROUP BY term),
        st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
          CAST(SUM(len(toks)) AS DOUBLE) AS sum_dl FROM d),
        sc AS (SELECT p.doc_id, p.term,
            ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
              * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
              / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
                 * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                    + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (sum_dl / n_docs))) AS s
          FROM p JOIN dfq ON dfq.term = p.term CROSS JOIN st),
        piv AS (SELECT doc_id,
            MAX(CASE WHEN term = 'spark' THEN s END) AS s_0,
            MAX(CASE WHEN term = 'customer' THEN s END) AS s_1,
            MAX(CASE WHEN term = 'vector' THEN s END) AS s_2,
            MAX(CASE WHEN term = 'slow' THEN s END) AS s_3
          FROM sc GROUP BY doc_id)
        SELECT doc_id,
          COALESCE(s_0, CAST(0.0 AS DOUBLE)) + COALESCE(s_1, CAST(0.0 AS DOUBLE))
            + COALESCE(s_2, CAST(0.0 AS DOUBLE)) + COALESCE(s_3, CAST(0.0 AS DOUBLE)) AS bm25
        FROM piv ORDER BY bm25 DESC, doc_id LIMIT 15""")),

    // ---- per-document TF-IDF keyword extraction (graft.text.Bm25
    // .tfidfKeywords): top-3 terms per doc by (tf/dl)·rational-idf —
    // the document-tagging pass. Vocabulary-sized df table joined
    // back by term (AQE broadcasts when it fits), one-row stats
    // broadcast, per-doc row_number window (state per task = one
    // doc's vocabulary). Score is a single rational expression — no
    // cross-term sum — so the oracle is bit-exact. ----
    QueryDef("qt19_tfidf_keywords",
      (s, dir) => graft.text.Bm25.tfidfKeywords(
        t(s, dir, "documents"), "doc_id", "text", k = 3),
      Some(s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
        tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
        tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, dl, term),
        dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
        st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM d),
        sc AS (SELECT doc_id, tf.term AS term,
            (CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE))
              * ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS score
          FROM tf JOIN dfq ON dfq.term = tf.term CROSS JOIN st),
        rk AS (SELECT doc_id, term, score,
            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
          FROM sc)
        SELECT doc_id, CAST(rank AS INT) AS rank, term, score FROM rk
        WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // ---- corpus-level n-gram statistics: global top-20 word bigrams
    // by occurrence count (tie-broken by gram text) — the vocabulary /
    // contamination-survey table a curation run reads before choosing
    // approx DISTINCT cardinality under a tolerance contract — the
    // corpus-stats sketch qt23's pattern generalizes to: per-language
    // distinct (doc, term) postings, i.e. the inverted-index size
    // estimator a 100 TB BM25/TF-IDF build sizes its shuffle from.
    // The at-scale arm is approx_count_distinct (HLL++): partial
    // sketches merge by register-max — commutative/associative, so the
    // estimate is ORDER-INDEPENDENT and needs no global distinct
    // exchange, vs the exact arm's expand+distinct shuffle. Oracled
    // the qt23 way, one step stronger: exact_n IS hash-checked against
    // DuckDB's COUNT(DISTINCT ...), and the sketch contributes the
    // oracled VERDICT |ap − exact|/exact <= 0.25 (5× the rsd=0.05;
    // measured errors across langs and SFs top out at 0.10). The
    // exact arm here is the verification harness; the plan a corpus
    // build runs at scale is the sketch aggregate alone. ----
    QueryDef("qt24_postings_cardinality",
      (s, dir) => {
        val tok = t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            explode(TextOps.tokens(col("text"))).as("term"))
          .select(col("lang"), concat(col("doc_id").cast("string"),
            lit(":"), col("term")).as("posting"))
        val ap = tok.groupBy(col("lang"))
          .agg(approx_count_distinct(col("posting"), 0.05).as("ap"))
        val ex = tok.groupBy(col("lang"))
          .agg(countDistinct(col("posting")).as("exact_n"))
        ex.join(broadcast(ap), Seq("lang"))
          .select(col("lang"), col("exact_n").cast("int").as("exact_n"),
            lit(0.25).as("rel_bound"),
            (abs(col("ap").cast("double") - col("exact_n").cast("double")) /
              col("exact_n").cast("double") <= lit(0.25)).as("within"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH dd AS (SELECT doc_id, lang,
            string_split($normSql, ' ') AS toks FROM documents),
        tok AS (SELECT lang,
            CAST(doc_id AS VARCHAR) || ':' || unnest(toks) AS posting
          FROM dd),
        exa AS (SELECT lang, COUNT(DISTINCT posting) AS exact_n
          FROM tok GROUP BY lang)
        SELECT lang, CAST(exact_n AS INT) AS exact_n,
          CAST(0.25 AS DOUBLE) AS rel_bound, TRUE AS within
        FROM exa ORDER BY lang""")),

    // boilerplate and repetition thresholds. Pure map-side partial
    // aggregation into one gram-keyed exchange, then
    // TakeOrderedAndProject — no global sort, no corpus-sized state. ----
    QueryDef("qt18_top_ngrams",
      (s, dir) => t(s, dir, "documents")
        .select(explode(TextOps.wordBigrams(col("text"))).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20),
      Some(s"""WITH d AS (SELECT string_split($normSql, ' ') AS toks FROM documents),
        bgs AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM d WHERE len(toks) >= 2)
        SELECT bigram, COUNT(*) AS n FROM bgs GROUP BY bigram
        ORDER BY n DESC, bigram LIMIT 20""")),

    // ---- PMI collocations (qt25): lift-ranked bigrams — the
    // association statistic qt18's raw counts cannot express (frequent
    // pairs of frequent words rank high by count but carry no
    // association; lift = c(ab)/(c(a)·c(b)) normalizes both margins
    // out). Ranking by lift ≡ ranking by PMI because log is monotone —
    // the log stays out per the determinism contract (one double
    // division of exact longs, IEEE-identical in both engines; the
    // bit-exact-ratio pattern qt17's rational idf established). Plan:
    // the corpus explodes twice into two partial-agg exchanges
    // (unigram- and bigram-vocabulary sized), the min-support filter
    // (c_ab >= 5, standard collocation practice) cuts the scored set
    // BEFORE any join, the unigram table broadcasts twice, and top-20
    // is TakeOrderedAndProject — no corpus-sized join side, no global
    // sort. ----
    QueryDef("qt25_pmi_collocations",
      (s, dir) => {
        val docs = graft.ops.Partitioning.spread(t(s, dir, "documents"))
        val uc = docs
          .select(explode(TextOps.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
        docs
          .select(explode(TextOps.wordBigrams(col("text"))).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 5)
          .withColumn("w1", element_at(split(col("bigram"), " "), 1))
          .withColumn("w2", element_at(split(col("bigram"), " "), 2))
          .join(broadcast(uc.select(col("w").as("w1"), col("c_w").as("c_1"))), "w1")
          .join(broadcast(uc.select(col("w").as("w2"), col("c_w").as("c_2"))), "w2")
          .select(col("bigram"), col("c_ab").cast("int").as("c_ab"),
            col("c_1").cast("int").as("c_1"), col("c_2").cast("int").as("c_2"),
            (col("c_ab").cast("double") /
              (col("c_1") * col("c_2")).cast("double")).as("lift"))
          .orderBy(col("lift").desc, col("bigram"))
          .limit(20)
      },
      Some(s"""WITH d AS (SELECT string_split($normSql, ' ') AS toks FROM documents),
        uni AS (SELECT unnest(toks) AS w FROM d),
        uc AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY w),
        bgs AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM d WHERE len(toks) >= 2),
        bc AS (SELECT bigram, COUNT(*) AS c_ab FROM bgs GROUP BY bigram
          HAVING COUNT(*) >= 5),
        j AS (SELECT bc.bigram, bc.c_ab, u1.c_w AS c_1, u2.c_w AS c_2,
            CAST(bc.c_ab AS DOUBLE) / CAST(u1.c_w * u2.c_w AS DOUBLE) AS lift
          FROM bc
          JOIN uc u1 ON u1.w = string_split(bc.bigram, ' ')[1]
          JOIN uc u2 ON u2.w = string_split(bc.bigram, ' ')[2])
        SELECT bigram, CAST(c_ab AS INT) AS c_ab, CAST(c_1 AS INT) AS c_1,
          CAST(c_2 AS INT) AS c_2, lift
        FROM j ORDER BY lift DESC, bigram LIMIT 20""")),

    // ---- dictionary-based quality (graft.text.Vocab): corpus top-200
    // vocabulary (count desc, term asc — a totally ordered cut, so the
    // vocabulary SET is engine-reproducible) → per-document fraction of
    // tokens inside it, keep at ratio >= 0.8 — the Gopher/C4-style
    // "common word" filter. Two corpus scans, vocabulary broadcast;
    // the exploded token stream is deliberately NOT persisted between
    // its two consumers (Boilerplate's recompute call: corpus-sized,
    // and recompute = scan + codegen with no shuffle underneath). The
    // ratio is one division of two exact longs — bit-exact. ----
    QueryDef("qt20_vocab_quality",
      (s, dir) => graft.text.Vocab.dictionaryQuality(
          t(s, dir, "documents"), "doc_id", "text", topN = 200, keepAt = 0.8)
        .orderBy(col("doc_id")),
      Some(vocabQualitySql)),

    // ---- Mixture targeting (text/Mixture): hit a target language
    // recipe (en 40%, zh/es 20%, de/fr 10%) with the LARGEST corpus
    // that honors the proportions without oversampling — the binding
    // language (min n_g/w_g) caps the total, every stratum gets
    // target_n = least(floor(w_g·T), n_g) (the LEAST guards the
    // binding stratum against FP rounding), keep is a salted id-hash
    // threshold.
    // Deterministic and engine-portable: one double divide per
    // stratum, a min, one multiply + floor — the same IEEE chain in
    // both engines (DuckDB's decimal VALUES are CAST to DOUBLE first),
    // and the md5-based keep threshold is qt14's salted-hash pattern
    // with a "mix:" salt. ----
    QueryDef("qt22_mixture_targeting",
      (s, dir) => graft.text.Mixture.mixtureKeep(
          t(s, dir, "documents"), "doc_id", "lang",
          Seq("en" -> 0.4, "zh" -> 0.2, "es" -> 0.2, "de" -> 0.1,
            "fr" -> 0.1))
        .orderBy(col("doc_id")),
      Some("""WITH sh AS (SELECT lang, CAST(share AS DOUBLE) AS share
          FROM (VALUES ('en', 0.4), ('zh', 0.2), ('es', 0.2),
            ('de', 0.1), ('fr', 0.1)) v(lang, share)),
        sz AS (SELECT lang, COUNT(*) AS grp_n FROM documents GROUP BY lang),
        tt AS (SELECT MIN(CAST(sz.grp_n AS DOUBLE) / sh.share) AS mix_total
          FROM sz JOIN sh ON sh.lang = sz.lang),
        tg AS (SELECT sz.lang, sz.grp_n,
            CASE WHEN CAST(sz.grp_n AS DOUBLE) / sh.share = tt.mix_total
              THEN sz.grp_n
              ELSE CAST(LEAST(FLOOR(sh.share * tt.mix_total),
                CAST(sz.grp_n AS DOUBLE)) AS BIGINT) END AS target_n
          FROM sz JOIN sh ON sh.lang = sz.lang CROSS JOIN tt)
        SELECT d.doc_id, d.lang, CAST(tg.grp_n AS INT) AS grp_n,
          CAST(tg.target_n AS INT) AS target_n,
          ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
            % tg.grp_n < tg.target_n AS keep
        FROM documents d JOIN tg ON tg.lang = d.lang
        ORDER BY d.doc_id""")),

    // ---- Temperature-scaled mixture (qt48): the α-sampling recipe of
    // multilingual pretraining (Conneau & Lample 2019 §3.1; XLM-R,
    // arXiv:1911.02116) — where qt22's shares are GIVEN (a data card),
    // these are DERIVED from availability, w_g ∝ sqrt(n_g), flattening
    // the natural distribution: the fixture's en (218 docs at sf0.01,
    // 43.6% of the corpus) drops to a 30.6% share and subsamples to
    // ~54% kept, while the binding SMALLEST language keeps in full —
    // the published remedy for high-resource dominance. α is fixed at
    // 1/2 because sqrt is the one power IEEE 754 requires correctly
    // rounded (bit-equal Spark/DuckDB; general pow rides exp·log,
    // barred by the libm doctrine), and the share denominator
    // Σ sqrt(n_g) — a cross-row double sum — rides the fixed-point
    // floor(·2^32) exact-long device. Downstream is qt22's proven
    // binding-min/LEAST-clamp/salted-draw chain verbatim with the
    // share table a broadcast attach instead of a literal; everything
    // beyond the |strata|-row size aggregate is map-only. ----
    QueryDef("qt48_temperature_mixture",
      (s, dir) => graft.text.Mixture.temperatureMixtureKeep(
          t(s, dir, "documents"), "doc_id", "lang")
        .orderBy(col("doc_id")),
      Some(qt48OracleSql)),

    // ---- corpus RECIPE composite: the data-MIXING counterpart of
    // qx4's cleaning pipeline. Three independent per-doc verdicts —
    // dictionary quality (qt20's ratio >= 0.8), the per-language
    // quality floor (qt21's 20th-percentile n_chars cutoff), and
    // mixture targeting (qt22's language recipe) — compose by doc-id
    // equi-joins into one final keep. Plan shape: three aggregate
    // subtrees over the documents scan (vocab cut, |langs| percentile
    // rows, |langs| size rows — all broadcast back), then a doc-keyed
    // join tree; nothing corpus-sized is held, and the flags stay
    // visible per stage so a corpus build can report WHY a document
    // dropped. Oracle = the three proven CTE bodies chained. ----
    QueryDef("qx5_corpus_recipe",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val vq = graft.text.Vocab.dictionaryQuality(
            d, "doc_id", "text", topN = 200, keepAt = 0.8)
          .select(col("doc_id"), col("keep").as("q_keep"))
        val base = d.select(col("doc_id"), col("lang"),
          col("n_chars").cast("double").as("v"))
        val cuts = base.groupBy(col("lang"))
          .agg(expr("percentile(v, 0.2)").as("lo"))
        val lt = base.join(broadcast(cuts), Seq("lang"))
          .select(col("doc_id"), (col("v") >= col("lo")).as("l_keep"))
        val mx = graft.text.Mixture.mixtureKeep(d, "doc_id", "lang",
            Seq("en" -> 0.4, "zh" -> 0.2, "es" -> 0.2, "de" -> 0.1,
              "fr" -> 0.1))
          .select(col("doc_id"), col("keep").as("m_keep"))
        d.select(col("doc_id"), col("lang"))
          .join(vq, Seq("doc_id")).join(lt, Seq("doc_id"))
          .join(mx, Seq("doc_id"))
          .withColumn("keep",
            col("q_keep") && col("l_keep") && col("m_keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH dd AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS term FROM dd),
        vv AS (SELECT term FROM (SELECT term, COUNT(*) AS n_occ FROM tok
          GROUP BY term ORDER BY n_occ DESC, term LIMIT 200)),
        sc AS (SELECT t.doc_id, COUNT(*) AS n_tok,
            SUM(CASE WHEN vv.term IS NOT NULL THEN 1 ELSE 0 END) AS n_common
          FROM tok t LEFT JOIN vv ON vv.term = t.term GROUP BY t.doc_id),
        q AS (SELECT doc_id,
            CAST(n_common AS DOUBLE) / CAST(n_tok AS DOUBLE) >= CAST(0.8 AS DOUBLE) AS q_keep
          FROM sc),
        s2 AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS val2 FROM documents),
        c2 AS (SELECT lang, quantile_cont(val2, 0.2) AS lo FROM s2 GROUP BY lang),
        lf AS (SELECT s2.doc_id, s2.val2 >= c2.lo AS l_keep
          FROM s2 JOIN c2 ON c2.lang = s2.lang),
        sh AS (SELECT lang, CAST(share AS DOUBLE) AS share
          FROM (VALUES ('en', 0.4), ('zh', 0.2), ('es', 0.2),
            ('de', 0.1), ('fr', 0.1)) vs(lang, share)),
        sz AS (SELECT lang, COUNT(*) AS grp_n FROM documents GROUP BY lang),
        tt AS (SELECT MIN(CAST(sz.grp_n AS DOUBLE) / sh.share) AS mix_total
          FROM sz JOIN sh ON sh.lang = sz.lang),
        tg AS (SELECT sz.lang, sz.grp_n,
            CASE WHEN CAST(sz.grp_n AS DOUBLE) / sh.share = tt.mix_total
              THEN sz.grp_n
              ELSE CAST(LEAST(FLOOR(sh.share * tt.mix_total),
                CAST(sz.grp_n AS DOUBLE)) AS BIGINT) END AS target_n
          FROM sz JOIN sh ON sh.lang = sz.lang CROSS JOIN tt),
        m AS (SELECT d2.doc_id,
            ('0x' || substr(md5('mix:' || CAST(d2.doc_id AS VARCHAR)), 1, 15))::BIGINT
              % tg.grp_n < tg.target_n AS m_keep
          FROM documents d2 JOIN tg ON tg.lang = d2.lang)
        SELECT doc.doc_id, doc.lang, q.q_keep, lf.l_keep, m.m_keep,
          q.q_keep AND lf.l_keep AND m.m_keep AS keep
        FROM documents doc
        JOIN q ON q.doc_id = doc.doc_id
        JOIN lf ON lf.doc_id = doc.doc_id
        JOIN m ON m.doc_id = doc.doc_id
        ORDER BY doc.doc_id""")),

    // ---- corpus release check, composed over CLEANED text: qt16
    // boilerplate removal feeds exact dedup AND train/eval
    // decontamination, yielding one per-doc release verdict — the
    // pipeline shape a real corpus build runs (clean first, THEN dedup
    // and leak-check, because boilerplate inflates both dup groups and
    // gram overlap). keep = train-side AND canonical of its exact-dup
    // group AND zero eval-gram overlap AND non-empty after cleaning.
    // The oracle chains the three proven CTE bodies over clean_text;
    // dedup groups span splits deliberately (an eval twin disqualifies
    // a train doc — that IS the leak being checked). ----
    QueryDef("qx4_clean_release",
      (s, dir) => {
        // cleaned is consumed THREE times (dedup window, decon train
        // arm, decon eval arm); without the persist the whole
        // boilerplate subtree — a join + two aggregates — recomputes
        // per consumer (the qd7 no-exchange-reuse class). It is the
        // small end of the pipeline: one row per doc. Cache released
        // by the harness's per-query clearCache.
        val cleaned = graft.text.Boilerplate.removeBoilerplate(
            t(s, dir, "documents"), "text", "doc_id", window = 8, maxDf = 2)
          .withColumn("split",
            TextOps.hashSplit(col("doc_id"), Seq(90), Seq("train", "eval")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val ann = Dedup.exactDupAnnotate(cleaned, "clean_text", "doc_id")
        val cont = graft.text.Decontaminate.contaminated(
            cleaned.filter(col("split") === "train"),
            cleaned.filter(col("split") === "eval"),
            "clean_text", "doc_id", n = 8)
        ann.join(cont, ann("doc_id") === cont("train_id"), "left")
          .select(col("doc_id"), col("split"), col("n_seg"), col("n_dropped"),
            (col("doc_id") =!= col("canonical_id")).as("is_dup"),
            coalesce(col("n_shared_grams"), lit(0L)).cast("int")
              .as("n_shared_grams"),
            (col("split") === "train" && col("doc_id") === col("canonical_id") &&
              coalesce(col("n_shared_grams"), lit(0L)) === 0 &&
              col("clean_text") =!= "").as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
          FROM documents),
        c AS (SELECT doc_id, toks,
          CASE WHEN len(toks) <= 8 THEN 1 ELSE (len(toks) - 8 + 7) // 8 + 1 END AS nc
          FROM d),
        u AS (SELECT doc_id, toks, unnest(generate_series(1, nc)) AS i FROM c),
        e AS (SELECT doc_id, i - 1 AS pos,
          array_to_string(toks[(i-1)*8 + 1 : (i-1)*8 + 8], ' ') AS seg FROM u),
        k AS (SELECT e.*, ('0x' || substr(md5(seg), 1, 15))::BIGINT AS h FROM e),
        f AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM k GROUP BY h),
        j AS (SELECT k.doc_id, k.pos, k.seg, f.df FROM k JOIN f ON f.h = k.h),
        cl AS (SELECT doc_id, COUNT(*) AS n_seg,
          SUM(CASE WHEN df > 2 THEN 1 ELSE 0 END) AS n_dropped,
          COALESCE(string_agg(CASE WHEN df <= 2 THEN seg END, ' ' ORDER BY pos), '') AS clean_text
          FROM j GROUP BY doc_id),
        sp AS (SELECT cl.*,
          CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
            THEN 'train' ELSE 'eval' END AS split FROM cl),
        can AS (SELECT sp.*,
          MIN(doc_id) OVER (PARTITION BY
            md5(lower(trim(regexp_replace(clean_text, '\\s+', ' ', 'g'))))) AS canonical_id
          FROM sp),
        ct AS (SELECT doc_id, split,
          string_split(lower(trim(regexp_replace(clean_text, '\\s+', ' ', 'g'))), ' ') AS ctoks
          FROM sp),
        g8 AS (SELECT doc_id, split,
            unnest(list_distinct(list_transform(generate_series(1, len(ctoks) - 7),
              i -> ('0x' || substr(md5(array_to_string(ctoks[i:i+7], ' ')), 1, 15))::BIGINT))) AS g
          FROM ct WHERE len(ctoks) >= 8),
        eg AS (SELECT DISTINCT g FROM g8 WHERE split = 'eval'),
        sh AS (SELECT t.doc_id, COUNT(*) AS n_shared
          FROM g8 t JOIN eg ON eg.g = t.g WHERE t.split = 'train'
          GROUP BY t.doc_id)
        SELECT cn.doc_id, cn.split, CAST(cn.n_seg AS INT) AS n_seg,
          CAST(cn.n_dropped AS INT) AS n_dropped,
          (cn.doc_id <> cn.canonical_id) AS is_dup,
          CAST(COALESCE(sh.n_shared, 0) AS INT) AS n_shared_grams,
          (cn.split = 'train' AND cn.doc_id = cn.canonical_id
            AND COALESCE(sh.n_shared, 0) = 0 AND cn.clean_text <> '') AS keep
        FROM can cn LEFT JOIN sh ON sh.doc_id = cn.doc_id
        ORDER BY cn.doc_id""")),

    // ---- deterministic stratified sampling (data mixing): per-lang
    // keep rates via a salted id-hash bucket — map-only, no RNG, no
    // shuffle; reproducible across runs and engines, decorrelated from
    // hashSplit buckets by the salt. ----
    QueryDef("qt14_stratified_sample",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.stratifiedKeep(col("doc_id"), col("lang"),
            Map("en" -> 40, "zh" -> 80, "de" -> 60), defaultRate = 25)
            .as("keep"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang,
          ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
            < CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 80 WHEN 'de' THEN 60 ELSE 25 END AS keep
        FROM documents ORDER BY doc_id""")),

    // ---- sequence packing: shard-local concat-then-chop bin
    // assignment by cumulative token count (no global sort; one window
    // per hash shard; deterministic (hash, id) order) ----
    QueryDef("qt10_seq_pack",
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.text.Pack.packBins(d, "doc_id",
            TextOps.tokenCountWs(col("text")), binTokens = 64, shards = 8)
          .withColumn("n_tok", col("n_tok").cast("int"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
          CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tok,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM documents),
        sh AS (SELECT doc_id, n_tok, h, CAST(h % 8 AS INT) AS shard FROM d),
        c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sh)
        SELECT doc_id, CAST(n_tok AS INT) AS n_tok, shard,
          CAST((cum - n_tok) // 64 AS BIGINT) AS bin,
          CAST(cum - n_tok AS BIGINT)
            - CAST((cum - n_tok) // 64 AS BIGINT) * 64 AS bin_offset
        FROM c ORDER BY doc_id""")),

    // ---- the SERVING-GRADE composed IVF-PQ stack: float-space
    // coarse cells (assigning on compressed codes scrambles cells),
    // partial probe (nprobe=4 of 8), and 128-bit PQ reconstruction
    // scoring in-cell (m=16×k=256, 16 bytes/vector, the point a PQ
    // bit-budget sweep located at recall 0.85 — COVERAGE.md keeps the
    // sweep). This is the row that converts the measured PQ curve
    // into the index a 100 TB corpus would actually serve from:
    // compressed 16× in-cell, scanning only the probed cells. Oracle =
    // cent/ca/qp/i0 probe CTEs over LIMIT-256 subDim=4
    // codebook/encode/reconstruct CTEs. Recall vs the float brute is
    // the pinned measurement: 0.85 at nprobe=4 vs the 0.9 flat-PQ
    // ceiling — with only 8 cells on the test corpus the probe
    // fraction is necessarily coarse (half); at real scale the cell
    // count grows with the corpus and the probed FRACTION shrinks at
    // held recall, while the in-cell scan stays 16×-compressed. ----
    QueryDef("qs22_ivfpq_serving",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val brute = Similarity.bruteTopK(e, q,
            "vec_id", "embedding", "query_id", "qe", k = 5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
        val withRecon = e.select(col("vec_id"), col("embedding"),
          graft.sim.Pq.reconstruct(col("embedding"), pq).as("recon"))
        val cells = Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 0)
        val ann = Ivf.topKOn(withRecon, q, "vec_id", "embedding", "recon",
          "query_id", "qe", cells, k = 5, nprobe = 4)
        Similarity.recallAtK(ann, brute, k = 5)
          .select(col("query_id"), col("n_hit").cast("int").as("n_hit"),
            col("n_exact").cast("int").as("n_exact"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        br0 AS (SELECT qv.query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e, qv WHERE e.vec_id <> qv.query_id),
        br AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM br0) WHERE rk <= 5),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        rec AS (SELECT enc.vec_id, flatten(list(cb.ce ORDER BY enc.j)) AS re
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          GROUP BY enc.vec_id),
        cent AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        qp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN cent c) WHERE rk <= 4),
        i0 AS (SELECT qp.query_id, r.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(r.re) + 1),
              i -> CAST(r.re[i] AS DOUBLE) * CAST(qp.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(r.re) + 1),
                i -> CAST(r.re[i] AS DOUBLE) * CAST(r.re[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qp.qe) + 1),
                i -> CAST(qp.qe[i] AS DOUBLE) * CAST(qp.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM ca JOIN rec r ON r.vec_id = ca.vec_id
          JOIN qp ON ca.cell = qp.cell AND ca.vec_id <> qp.query_id),
        i5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM i0) WHERE rk <= 5),
        hit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM i5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id),
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id, CAST(COALESCE(hit.n_hit, 0) AS INT) AS n_hit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
        FROM ex LEFT JOIN hit ON hit.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- the END-STATE serving plan (Ivf.topKAdc): qs22's composition
    // with ADC scoring (Pq.withAdcTables/adcCosine) — float-space
    // cells, nprobe=4 partial probe, and ADC lookup-table sums over the
    // 16-byte code column. Unlike qs22 (which ships a 64-float
    // reconstruction through the candidate join to reuse the proven
    // scorer), the corpus side here carries ONLY (id, cell, codes) — at
    // 100 TB that is the difference between shuffling 256 B/row and 16
    // B/row through the probe join — and each query broadcasts its KB
    // ADC tables. Rank-identical to qs22 by the pinned ADC ≡
    // reconstruction contract: recall 0.8, same rows, measured
    // independently by this oracle (probe CTEs + the per-subspace ADC
    // fold tail). ----
    QueryDef("qs24_ivfpq_adc",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val brute = Similarity.bruteTopK(e, q,
            "vec_id", "embedding", "query_id", "qe", k = 5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
        val cells = Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 0)
        val ann = Ivf.topKAdc(e, q, "vec_id", "embedding",
          "query_id", "qe", cells, pq, k = 5, nprobe = 4)
        Similarity.recallAtK(ann, brute, k = 5)
          .select(col("query_id"), col("n_hit").cast("int").as("n_hit"),
            col("n_exact").cast("int").as("n_exact"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        br0 AS (SELECT qv.query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e, qv WHERE e.vec_id <> qv.query_id),
        br AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM br0) WHERE rk <= 5),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        cent AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        qp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN cent c) WHERE rk <= 4),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        pj AS (SELECT enc.vec_id, qp.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qp.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN ca ON ca.vec_id = enc.vec_id
          JOIN qp ON qp.cell = ca.cell AND enc.vec_id <> qp.query_id),
        p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM pj GROUP BY vec_id, query_id),
        p1 AS (SELECT p0.query_id, p0.neighbor_id,
            num / (sqrt(rn) * sqrt(qn.qnsq)) AS cosine
          FROM p0 JOIN qn ON qn.query_id = p0.query_id),
        p5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM p1) WHERE rk <= 5),
        hit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM p5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id),
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id, CAST(COALESCE(hit.n_hit, 0) AS INT) AS n_hit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
        FROM ex LEFT JOIN hit ON hit.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- INCREMENTAL index maintenance (qs27): the operational
    // question qs22-qs24 leave open — when a new batch of vectors
    // arrives, does the index need a rebuild? The production answer
    // this row pins: NO re-encode, NO refit. Quantizer and coarse
    // cells stay FROZEN (fit on the OLD corpus only — here every
    // vec_id % 8 != 0, so the models have never seen the arrivals);
    // the batch is encoded map-only with the stale models and UNIONED
    // onto the existing code table; serving runs `Ivf.topKAdcOnIndex`
    // over the union — the stored-artifact entry point (IvfSpec pins
    // union-of-encodes ≡ whole-corpus encode under fixed models, so
    // appending never perturbs existing codes). At 100 TB that is the
    // difference between a daily full re-index (scan + re-encode
    // everything) and appending 16 B/row for the arrivals. MEASURED
    // ANSWER on this corpus: mean recall 0.75 vs qs24's
    // full-corpus-fit 0.8 — freezing the models against a 1-in-8
    // unseen slice costs 0.05 of recall (the seed codebooks shift:
    // with %8==0 ids excluded, different verbatim corpus points seed
    // the dictionary) — the quantified price of skipping the
    // rebuild. The oracle is qs24's chain with seeds
    // and cent drawn from the old corpus only. ----
    QueryDef("qs27_incremental_index",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val old = e.filter(col("vec_id") % 8 =!= 0)
        val batch = e.filter(col("vec_id") % 8 === 0)
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val brute = Similarity.bruteTopK(e, q,
            "vec_id", "embedding", "query_id", "qe", k = 5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val pq = graft.sim.Pq.fit(old, "vec_id", "embedding", m = 16, k = 256)
        val cells = Ivf.fit(old, "vec_id", "embedding", k = 8, iters = 0)
        def enc(df: DataFrame): DataFrame =
          Ivf.assign(df, "vec_id", "embedding", cells)
            .select(col("vec_id"),
              graft.sim.Pq.codes(col("embedding"), pq).as("codes"),
              col("cell"))
        val index = enc(old).unionByName(enc(batch))
        val ann = Ivf.topKAdcOnIndex(index, q, "vec_id",
          "query_id", "qe", cells, pq, k = 5, nprobe = 4)
        Similarity.recallAtK(ann, brute, k = 5)
          .select(col("query_id"), col("n_hit").cast("int").as("n_hit"),
            col("n_exact").cast("int").as("n_exact"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        br0 AS (SELECT qv.query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e, qv WHERE e.vec_id <> qv.query_id),
        br AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM br0) WHERE rk <= 5),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 8 <> 0 ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        cent AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 8 <> 0 ORDER BY vec_id LIMIT 8)),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        qp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN cent c) WHERE rk <= 4),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        pj AS (SELECT enc.vec_id, qp.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qp.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN ca ON ca.vec_id = enc.vec_id
          JOIN qp ON qp.cell = ca.cell AND enc.vec_id <> qp.query_id),
        p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM pj GROUP BY vec_id, query_id),
        p1 AS (SELECT p0.query_id, p0.neighbor_id,
            num / (sqrt(rn) * sqrt(qn.qnsq)) AS cosine
          FROM p0 JOIN qn ON qn.query_id = p0.query_id),
        p5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM p1) WHERE rk <= 5),
        hit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM p5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id),
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id, CAST(COALESCE(hit.n_hit, 0) AS INT) AS n_hit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
        FROM ex LEFT JOIN hit ON hit.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- Per-dimension scalar quantization (qs28, the FAISS SQ8
    // layout) — the rung of the compression ladder between per-vector
    // int8 (512 bits) and PQ-128 (qs22, 128 bits): per-dim affine
    // codes from sample min/max (Similarity.sq8Params — pure
    // comparisons, engine-exact), round-half-up via IEEE floor,
    // reconstruction riding the corpus scan as a literal-array
    // expression, served through the qs22 chain (float cells,
    // nprobe=4, score on recon). MEASURED: mean recall
    // 0.95 — ABOVE per-vector int8's 0.9 and PQ-128's 0.8 on the
    // same float-cell nprobe=4 chain: per-dim min/max codes carry
    // visibly less error than a per-vector scale, at 4× PQ's bits.
    // The compression ladder now reads binary 64 b → 0.25, PQ-128
    // 16 B → 0.8, SQ8 64 B → 0.95, int8 64 B (per-vector) → 0.9,
    // float 256 B → probe-bounded; SQ8's extra niche is simplicity —
    // no codebooks, no training, exact per-dim error bounds. ----
    QueryDef("qs28_sq8_ann",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val brute = Similarity.bruteTopK(e, q,
            "vec_id", "embedding", "query_id", "qe", k = 5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val (mn, mx) = Similarity.sq8Params(e, "vec_id", "embedding")
        val withRecon = e.select(col("vec_id"), col("embedding"),
          Similarity.sq8Reconstruct(col("embedding"), mn, mx).as("recon"))
        val cells = Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 0)
        val ann = Ivf.topKOn(withRecon, q, "vec_id", "embedding", "recon",
          "query_id", "qe", cells, k = 5, nprobe = 4)
        Similarity.recallAtK(ann, brute, k = 5)
          .select(col("query_id"), col("n_hit").cast("int").as("n_hit"),
            col("n_exact").cast("int").as("n_exact"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        br0 AS (SELECT qv.query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e, qv WHERE e.vec_id <> qv.query_id),
        br AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM br0) WHERE rk <= 5),
        smp AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256),
        prm AS (SELECT r.i, MIN(CAST(s.embedding[r.i] AS DOUBLE)) AS mn,
            MAX(CAST(s.embedding[r.i] AS DOUBLE)) AS mx
          FROM smp s CROSS JOIN range(1, 65) r(i) GROUP BY r.i),
        rx AS (SELECT e.vec_id, p.i,
            CASE WHEN p.mx = p.mn THEN p.mn
              ELSE p.mn + GREATEST(0.0, LEAST(255.0,
                floor((CAST(e.embedding[p.i] AS DOUBLE) - p.mn) * 255.0 / (p.mx - p.mn) + 0.5)))
                * (p.mx - p.mn) / 255.0 END AS xr
          FROM embeddings e CROSS JOIN prm p),
        rec AS (SELECT vec_id, list(xr ORDER BY i) AS recon FROM rx GROUP BY vec_id),
        cent AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        qp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN cent c) WHERE rk <= 4),
        i0 AS (SELECT qp.query_id, x.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(x.recon) + 1),
              i -> x.recon[i] * CAST(qp.qe[i] AS DOUBLE)), (x2, y) -> x2 + y)
            / (sqrt(list_reduce(list_transform(range(1, len(x.recon) + 1),
                i -> x.recon[i] * x.recon[i]), (x2, y) -> x2 + y))
             * sqrt(list_reduce(list_transform(range(1, len(qp.qe) + 1),
                i -> CAST(qp.qe[i] AS DOUBLE) * CAST(qp.qe[i] AS DOUBLE)), (x2, y) -> x2 + y)))
            AS cosine
          FROM ca JOIN rec x ON x.vec_id = ca.vec_id
          JOIN qp ON ca.cell = qp.cell AND ca.vec_id <> qp.query_id),
        i5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM i0) WHERE rk <= 5),
        hit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM i5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id),
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id, CAST(COALESCE(hit.n_hit, 0) AS INT) AS n_hit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
        FROM ex LEFT JOIN hit ON hit.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- TWO-STAGE retrieval composite (qs29): the production
    // pattern the compression ladder implies, composed end-to-end as
    // ONE oracled plan — binary popcount prefilter (binary codes'
    // measured coarse role: top-50 of 499, a 10% scan) → ADC lookup-table
    // shortlist over the candidates' PQ codes (qs24's scorer, top-20)
    // → exact cosine re-rank on the floats of the 20 survivors only
    // (the single full-width read). MEASURED: mean recall 0.65 vs
    // brute — the composite's recall is ceilinged by stage
    // retentions (stage 1's ceiling is the binary coarse recall
    // recorded on COVERAGE.md's binary-codes line; widening shortK
    // back to coarseK recovers that ceiling exactly, the property
    // ServingSpec pins). The
    // knobs are explicit and every stage's quality has its own driver
    // row. At 100 TB the scan side carries 24 B/row (8 B sign code +
    // 16 B PQ code, built in ONE corpus pass), stage 1's rank is the
    // bounded top-k aggregate (ops/TopK — map-side combine, no
    // window, no corpus-wide sort; ServingSpec pins the plan), and
    // full vectors are fetched for exactly k·|Q| ids. qs32 composes
    // the same tiers INSIDE the IVF probe — the deployable variant
    // (recall 0.75 vs this scan form's 0.65). Oracle: the cbits/qbits chain
    // → candidate CTE → qs24's enc/ADC fold restricted to candidates
    // → an exact-cosine tail over the shortlist. ----
    QueryDef("qs29_two_stage",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val brute = Similarity.bruteTopK(e, q,
            "vec_id", "embedding", "query_id", "qe", k = 5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val thr = Similarity.signThresholds(e, "vec_id", "embedding")
        val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
        val ann = graft.sim.Serving.twoStageTopK(e, q,
          "vec_id", "embedding", "query_id", "qe", thr, pq,
          k = 5, coarseK = 50, shortK = 20)
        Similarity.recallAtK(ann, brute, k = 5)
          .select(col("query_id"), col("n_hit").cast("int").as("n_hit"),
            col("n_exact").cast("int").as("n_exact"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        br0 AS (SELECT qv.query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e, qv WHERE e.vec_id <> qv.query_id),
        br AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM br0) WHERE rk <= 5),
        smp AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256),
        thr AS (SELECT r.i,
            list_reduce(list(CAST(s.embedding[r.i] AS DOUBLE) ORDER BY s.vec_id),
              (x, y) -> x + y) / CAST(COUNT(*) AS DOUBLE) AS t
          FROM smp s CROSS JOIN range(1, 65) r(i) GROUP BY r.i),
        cbits AS (SELECT e.vec_id, CAST(SUM(
            CASE WHEN CAST(e.embedding[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS code
          FROM embeddings e CROSS JOIN thr GROUP BY e.vec_id),
        qbits AS (SELECT qv.query_id, CAST(SUM(
            CASE WHEN CAST(qv.qe[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS qcode
          FROM qv CROSS JOIN thr GROUP BY qv.query_id),
        c50 AS (SELECT query_id, neighbor_id FROM (
          SELECT qb.query_id, cb2.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY qb.query_id
              ORDER BY bit_count(xor(cb2.code, qb.qcode)), cb2.vec_id) AS rk
          FROM cbits cb2, qbits qb WHERE cb2.vec_id <> qb.query_id) WHERE rk <= 50),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        pj AS (SELECT enc.vec_id, qv.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qv.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN c50 ON c50.neighbor_id = enc.vec_id
          JOIN qv ON qv.query_id = c50.query_id),
        p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM pj GROUP BY vec_id, query_id),
        s20 AS (SELECT query_id, neighbor_id FROM (
          SELECT p0.query_id, p0.neighbor_id, ROW_NUMBER() OVER (PARTITION BY p0.query_id
            ORDER BY num / (sqrt(rn) * sqrt(qn.qnsq)) DESC, p0.neighbor_id) AS rk
          FROM p0 JOIN qn ON qn.query_id = p0.query_id) WHERE rk <= 20),
        x0 AS (SELECT s20.query_id, s20.neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM s20 JOIN embeddings e ON e.vec_id = s20.neighbor_id
          JOIN qv ON qv.query_id = s20.query_id),
        f5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM x0) WHERE rk <= 5),
        hit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM f5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id),
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id, CAST(COALESCE(hit.n_hit, 0) AS INT) AS n_hit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
        FROM ex LEFT JOIN hit ON hit.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- Two-stage retrieval composed INSIDE the IVF probe (qs32):
    // the judge of deployability vs qs29's full-corpus popcount scan.
    // Candidates come from the standard cell equi-join against the
    // probed nprobe=4 cells FIRST (the qs22-qs24 serving shape —
    // prunable to the probed fraction under ql5's cell-partitioned
    // lake), and the binary tier ranks WITHIN the probed candidates
    // through the same bounded top-k aggregate; stages 2-3 are
    // shared with qs29 verbatim. MEASURED: mean recall 0.75 at the
    // same 50->20->5 widths vs the scan form's 0.65 — the cell
    // prefilter is better correlated with cosine than raw Hamming,
    // so probing buys recall AND drops the per-query read volume to
    // the probed fraction. The artifact is 32 B/row (cell + sign
    // code + PQ codes, one corpus pass). Oracle: qs30's cell chain
    // for the probe, qs29's bit chain ranked within it, qs29's
    // ADC + exact tail. ----
    QueryDef("qs32_two_stage_ivf",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val brute = Similarity.bruteTopK(e, q,
            "vec_id", "embedding", "query_id", "qe", k = 5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val thr = Similarity.signThresholds(e, "vec_id", "embedding")
        val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
        val cells = Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 0)
        val ann = graft.sim.Serving.twoStageTopKIvf(e, q,
          "vec_id", "embedding", "query_id", "qe", cells, thr, pq,
          k = 5, coarseK = 50, shortK = 20, nprobe = 4)
        Similarity.recallAtK(ann, brute, k = 5)
          .select(col("query_id"), col("n_hit").cast("int").as("n_hit"),
            col("n_exact").cast("int").as("n_exact"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        br0 AS (SELECT qv.query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e, qv WHERE e.vec_id <> qv.query_id),
        br AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM br0) WHERE rk <= 5),
        smp AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256),
        thr AS (SELECT r.i,
            list_reduce(list(CAST(s.embedding[r.i] AS DOUBLE) ORDER BY s.vec_id),
              (x, y) -> x + y) / CAST(COUNT(*) AS DOUBLE) AS t
          FROM smp s CROSS JOIN range(1, 65) r(i) GROUP BY r.i),
        cbits AS (SELECT e.vec_id, CAST(SUM(
            CASE WHEN CAST(e.embedding[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS code
          FROM embeddings e CROSS JOIN thr GROUP BY e.vec_id),
        qbits AS (SELECT qv.query_id, CAST(SUM(
            CASE WHEN CAST(qv.qe[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS qcode
          FROM qv CROSS JOIN thr GROUP BY qv.query_id),
        cent AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        qp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN cent c) WHERE rk <= 4),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        c50 AS (SELECT query_id, neighbor_id FROM (
          SELECT qp.query_id, cb2.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY qp.query_id
              ORDER BY bit_count(xor(cb2.code, qb.qcode)), cb2.vec_id) AS rk
          FROM cbits cb2 JOIN ca ON ca.vec_id = cb2.vec_id
          JOIN qp ON qp.cell = ca.cell AND cb2.vec_id <> qp.query_id
          JOIN qbits qb ON qb.query_id = qp.query_id) WHERE rk <= 50),
        pj AS (SELECT enc.vec_id, qv.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qv.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN c50 ON c50.neighbor_id = enc.vec_id
          JOIN qv ON qv.query_id = c50.query_id),
        p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM pj GROUP BY vec_id, query_id),
        s20 AS (SELECT query_id, neighbor_id FROM (
          SELECT p0.query_id, p0.neighbor_id, ROW_NUMBER() OVER (PARTITION BY p0.query_id
            ORDER BY num / (sqrt(rn) * sqrt(qn.qnsq)) DESC, p0.neighbor_id) AS rk
          FROM p0 JOIN qn ON qn.query_id = p0.query_id) WHERE rk <= 20),
        x0 AS (SELECT s20.query_id, s20.neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM s20 JOIN embeddings e ON e.vec_id = s20.neighbor_id
          JOIN qv ON qv.query_id = s20.query_id),
        f5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM x0) WHERE rk <= 5),
        hit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM f5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id),
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id, CAST(COALESCE(hit.n_hit, 0) AS INT) AS n_hit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
        FROM ex LEFT JOIN hit ON hit.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- Two-stage serving LIFECYCLE (qs33): the qs32 composite
    // given the same production treatment the ADC form has — the
    // 32 B/row (id, cell, bincode, pqcodes) artifact is WRITTEN to a
    // cell-partitioned zstd lake (ql5's layout: probed `cell=` dirs
    // prune under the broadcast query-cells join), read back through
    // the hive reader, a 1-in-8 retraction anti-joins the index
    // BEFORE the probe (the qs30 pattern — retracted codes never
    // enter the candidate shuffle), and serving runs through the
    // Serving.twoStageTopKOnIndex entry. The row require()s zero
    // tombstoned ids served; MEASURED mean recall 0.75 vs brute over
    // the LIVE corpus (vs qs32's 0.75 against the full corpus —
    // serving around these holes costs nothing measurable at these
    // widths). Oracle: qs33 = qs32's chain with the tombstone filter
    // on brute and candidates. Temp lake deleted in finally, result
    // collected local first (the ql4/ql5 hygiene). ----
    QueryDef("qs33_two_stage_lifecycle",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("qs33_index")
        try {
          val e = t(s, dir, "embeddings")
          val q = e.filter(col("vec_id") < 4)
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
          val live = e.filter(col("vec_id") % 8 =!= 3)
          val brute = Similarity.bruteTopK(live, q,
              "vec_id", "embedding", "query_id", "qe", k = 5)
            .persist(StorageLevel.MEMORY_AND_DISK)
          val thr = Similarity.signThresholds(e, "vec_id", "embedding")
          val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
          val cells = Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 0)
          Ivf.assign(e, "vec_id", "embedding", cells)
            .select(col("vec_id"),
              Similarity.signBits(col("embedding"), thr).as("bincode"),
              graft.sim.Pq.codes(col("embedding"), pq).as("pqcodes"),
              col("cell"))
            // one file per cell dir (the Compact one-file policy):
            // without this each scan partition writes a file into
            // EVERY cell dir and the read-back/compaction pays ~32x
            // the file-count in open+footer cost
            .repartition(col("cell"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("compression", "zstd")
            .partitionBy("cell").parquet(s"$tmp/index")
          val tomb = e.filter(col("vec_id") % 8 === 3).select(col("vec_id"))
          val stored = s.read.parquet(s"$tmp/index")
            .join(tomb, Seq("vec_id"), "left_anti")
          val ann = graft.sim.Serving.twoStageTopKOnIndex(stored,
              live.select(col("vec_id"), col("embedding")), q,
              "vec_id", "embedding", "query_id", "qe", cells, thr, pq,
              k = 5, coarseK = 50, shortK = 20, nprobe = 4)
            .persist(StorageLevel.MEMORY_AND_DISK)
          require(ann.filter(col("neighbor_id") % 8 === 3).isEmpty,
            "two-stage serving must never return a tombstoned id")
          val res = Similarity.recallAtK(ann, brute, k = 5)
            .select(col("query_id"), col("n_hit").cast("int").as("n_hit"),
              col("n_exact").cast("int").as("n_exact"), col("recall"))
            .orderBy(col("query_id"))
          import scala.jdk.CollectionConverters._
          s.createDataFrame(res.collect().toSeq.asJava, res.schema)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(pth => java.nio.file.Files.deleteIfExists(pth))
        }
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        br0 AS (SELECT qv.query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e, qv WHERE e.vec_id <> qv.query_id AND e.vec_id % 8 <> 3),
        br AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM br0) WHERE rk <= 5),
        smp AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256),
        thr AS (SELECT r.i,
            list_reduce(list(CAST(s.embedding[r.i] AS DOUBLE) ORDER BY s.vec_id),
              (x, y) -> x + y) / CAST(COUNT(*) AS DOUBLE) AS t
          FROM smp s CROSS JOIN range(1, 65) r(i) GROUP BY r.i),
        cbits AS (SELECT e.vec_id, CAST(SUM(
            CASE WHEN CAST(e.embedding[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS code
          FROM embeddings e CROSS JOIN thr GROUP BY e.vec_id),
        qbits AS (SELECT qv.query_id, CAST(SUM(
            CASE WHEN CAST(qv.qe[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS qcode
          FROM qv CROSS JOIN thr GROUP BY qv.query_id),
        cent AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        qp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN cent c) WHERE rk <= 4),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        c50 AS (SELECT query_id, neighbor_id FROM (
          SELECT qp.query_id, cb2.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY qp.query_id
              ORDER BY bit_count(xor(cb2.code, qb.qcode)), cb2.vec_id) AS rk
          FROM cbits cb2 JOIN ca ON ca.vec_id = cb2.vec_id AND cb2.vec_id % 8 <> 3
          JOIN qp ON qp.cell = ca.cell AND cb2.vec_id <> qp.query_id
          JOIN qbits qb ON qb.query_id = qp.query_id) WHERE rk <= 50),
        pj AS (SELECT enc.vec_id, qv.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qv.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN c50 ON c50.neighbor_id = enc.vec_id
          JOIN qv ON qv.query_id = c50.query_id),
        p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM pj GROUP BY vec_id, query_id),
        s20 AS (SELECT query_id, neighbor_id FROM (
          SELECT p0.query_id, p0.neighbor_id, ROW_NUMBER() OVER (PARTITION BY p0.query_id
            ORDER BY num / (sqrt(rn) * sqrt(qn.qnsq)) DESC, p0.neighbor_id) AS rk
          FROM p0 JOIN qn ON qn.query_id = p0.query_id) WHERE rk <= 20),
        x0 AS (SELECT s20.query_id, s20.neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM s20 JOIN embeddings e ON e.vec_id = s20.neighbor_id
          JOIN qv ON qv.query_id = s20.query_id),
        f5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM x0) WHERE rk <= 5),
        hit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM f5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id),
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id, CAST(COALESCE(hit.n_hit, 0) AS INT) AS n_hit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
        FROM ex LEFT JOIN hit ON hit.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- IVF index-health audit + refit trigger (qs34): the serving
    // lifecycle's missing ALARM. qs27 established that appends ride a
    // FROZEN coarse quantizer — the production question that leaves
    // open is WHEN the freeze must end: centroids fit on last
    // quarter's distribution degrade silently as the corpus drifts
    // (every ANN engine's retrain guidance is exactly this
    // occupancy-skew check). One count aggregate over the (cell)
    // projection computes BOTH the fit-time and post-append occupancy
    // histograms (the fit rows ride with in_fit=1, the appended batch
    // with 0 — one exchange, K rows out); the refit verdict is
    // INTEGER arithmetic end to end: refit ⟺ 2·max·K ≥ 3·total
    // (occupancy imbalance ≥ 1.5× the balanced share) — no float
    // exists for two engines to disagree on. The fixture's batch
    // arrives from a changed upstream encoder (deterministically
    // pulled 90% toward centroid 0 — the lmDocs dressing device, in
    // embedding space); the trigger genuinely trips both ways at
    // both SFs: refit_at_fit FALSE (max 63-69 of 437 across 8
    // cells), refit TRUE after the append (cell 0 grows 57→120 at
    // sf0.01). 100 TB: occupancy is a K-row aggregate over a
    // cell-projected scan, the verdict a 1-row broadcast attach —
    // the audit costs one slim pass, which is the point: run it on
    // every append. ----
    QueryDef("qs34_index_health_audit",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val old = e.filter(col("vec_id") % 8 =!= 0)
        val batch = e.filter(col("vec_id") % 8 === 0)
        val cells = Ivf.fit(old, "vec_id", "embedding", k = 8, iters = 0)
        val c0Lit = array(cells.centroids(0).map(lit): _*)
        val dressed = batch.select(col("vec_id"),
          zip_with(col("embedding"), c0Lit, (x, c) =>
            (x.cast("double") * lit(0.1) + c * lit(0.9)).cast("float"))
            .as("embedding"))
        val occ = Ivf.assign(old, "vec_id", "embedding", cells)
          .select(col("cell"), lit(1L).as("in_fit"))
          .unionByName(Ivf.assign(dressed, "vec_id", "embedding", cells)
            .select(col("cell"), lit(0L).as("in_fit")))
          .groupBy(col("cell"))
          .agg(sum(col("in_fit")).as("n_fit"), count(lit(1)).as("n_now"))
        val tot = occ.agg(
          max(col("n_fit")).as("mf"), sum(col("n_fit")).as("tf"),
          max(col("n_now")).as("mn"), sum(col("n_now")).as("tn"))
        occ.crossJoin(broadcast(tot))
          .select(col("cell"),
            col("n_fit").cast("int").as("n_fit"),
            col("n_now").cast("int").as("n_now"),
            (col("n_now") - col("n_fit")).cast("int").as("growth"),
            (lit(2L) * col("mf") * lit(8L) >= lit(3L) * col("tf"))
              .as("refit_at_fit"),
            (lit(2L) * col("mn") * lit(8L) >= lit(3L) * col("tn"))
              .as("refit"))
          .orderBy(col("cell"))
      },
      Some(qs34OracleSql)),

    // ---- Streamed index-health audit (qst22): qs34 run WHERE it
    // belongs operationally — ON the append stream, per arriving
    // batch, so the refit alarm fires at ingest time instead of on a
    // scheduled scan. The arriving vectors (the qs34 dressed batch)
    // flow as a stream; cell assignment is a STATELESS codegen
    // projection riding it (NearestCell against the frozen coarse
    // model — the qst17 frozen-model class); ONE windowed streaming
    // count aggregate per cell (state = K+1 longs per window at any
    // arrival rate — the qst19 histogram class) flushes on the
    // far-future sentinel; the fit-side occupancy is a K-row batch
    // table and the integer refit verdict composes post-flush with
    // the SAME expressions the batch row uses. Oracle = qs34's SQL
    // VERBATIM — stream ≡ batch pinned on the alarm itself. ----
    QueryDef("qst22_stream_index_health",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val old = e.filter(col("vec_id") % 8 =!= 0)
        val cells = Ivf.fit(old, "vec_id", "embedding", k = 8, iters = 0)
        val c0Lit = array(cells.centroids(0).map(lit): _*)
        val fitOcc = Ivf.assign(old, "vec_id", "embedding", cells)
          .groupBy(col("cell")).agg(count(lit(1)).as("n_fit"))
        val sent = Seq(-1).toDF("cell")
          .select(col("cell"), timestamp_micros(lit(SentinelUs)).as("ts"))
        val arriv = withSentinelStream(s, sent, "cell INT, ts TIMESTAMP") {
          sentArm =>
          val arriving = replayTable(s, dir, "embeddings")
            .filter(col("vec_id") % 8 === 0)
            .select(graft.functions.NearestCell.nearest_cell(
                zip_with(col("embedding"), c0Lit, (x, c) =>
                  (x.cast("double") * lit(0.1) + c * lit(0.9))
                    .cast("float")),
                cells.centroids).as("cell"),
              lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
          val counts = arriving.unionByName(sentArm)
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("cell"))
            .agg(count(lit(1)).as("n_arriv"))
            .select(col("cell"), col("n_arriv"))
          runAvailableNow(s, counts).filter(col("cell") >= 0)
        }
        val occ = fitOcc.join(arriv, Seq("cell"), "full_outer")
          .select(col("cell"),
            coalesce(col("n_fit"), lit(0L)).as("n_fit"),
            (coalesce(col("n_fit"), lit(0L)) +
              coalesce(col("n_arriv"), lit(0L))).as("n_now"))
        val tot = occ.agg(
          max(col("n_fit")).as("mf"), sum(col("n_fit")).as("tf"),
          max(col("n_now")).as("mn"), sum(col("n_now")).as("tn"))
        occ.crossJoin(broadcast(tot))
          .select(col("cell"),
            col("n_fit").cast("int").as("n_fit"),
            col("n_now").cast("int").as("n_now"),
            (col("n_now") - col("n_fit")).cast("int").as("growth"),
            (lit(2L) * col("mf") * lit(8L) >= lit(3L) * col("tf"))
              .as("refit_at_fit"),
            (lit(2L) * col("mn") * lit(8L) >= lit(3L) * col("tn"))
              .as("refit"))
          .orderBy(col("cell"))
      },
      Some(qs34OracleSql)),

    // ---- REFIT after the alarm (qs35): the consumer qs34's trigger
    // was missing — the lifecycle was fit → freeze → append (qs27) →
    // alarm (qs34) → dead end. This row closes the loop: same drifted
    // fixture (batch pulled 90% toward centroid 0, the thing that
    // trips qs34's occupancy check), then BOTH serving arms measured
    // against the same brute-force truth on the drifted corpus —
    // FROZEN (models fit on the old corpus only, the qs27 posture the
    // alarm says to abandon) vs REFIT (coarse quantizer AND PQ
    // codebooks refit on the drifted union, index re-encoded). The
    // refit is exactly what a 100 TB operator pays when the alarm
    // fires: two driver-sized model fits over the bounded lowest-id
    // sample plus ONE map-only re-encode pass (assignment + codes both
    // ride the scan — no shuffle, no candidate join), vs the frozen
    // path's silent recall decay. MEASURED (identical at both SFs —
    // the fixture is the fixed 500-row embeddings table): drift-region
    // queries recover 0.2 → 0.6 mean recall (frozen PQ codebooks never
    // saw the clump, so in-clump ADC ranking is noise; refit codebooks
    // contain clump seeds verbatim), while old-region queries pay
    // 0.6 → 0.4 — the honest price of the SEED-fit codebook: 32 of
    // 256 seed slots move to near-identical clump points, displacing
    // old-region coverage. A production refit reclaims that with a
    // Lloyd pass (Pq.fitLloyd — qs36 measures it) at the same
    // re-encode cost; the row pins the seed-fit tradeoff both engines
    // can agree on exactly. Oracle = qs27's frozen ADC chain and the
    // same chain re-seeded from the drifted union, both over qs34's
    // dressed-batch CTEs, sharing one brute-force truth. ----
    QueryDef("qs35_refit_recovery",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val old = e.filter(col("vec_id") % 8 =!= 0)
          .select(col("vec_id"), col("embedding"))
        val cellsOld = Ivf.fit(old, "vec_id", "embedding", k = 8, iters = 0)
        val c0Lit = array(cellsOld.centroids(0).map(lit): _*)
        val dressed = e.filter(col("vec_id") % 8 === 0)
          .select(col("vec_id"),
            zip_with(col("embedding"), c0Lit, (x, c) =>
              (x.cast("double") * lit(0.1) + c * lit(0.9)).cast("float"))
              .as("embedding"))
        val drifted = old.unionByName(dressed)
          .persist(StorageLevel.MEMORY_AND_DISK)
        // queries from BOTH regions: the drift-region set (arrivals —
        // the traffic the alarm is about) and an old-region control
        val q = drifted.filter(col("vec_id") < 4 ||
            (col("vec_id") % 8 === 0 && col("vec_id") < 32))
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val brute = Similarity.bruteTopK(drifted, q,
            "vec_id", "embedding", "query_id", "qe", k = 5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        def enc(df: DataFrame, cells: Ivf.Model,
            pq: graft.sim.Pq.Model): DataFrame =
          Ivf.assign(df, "vec_id", "embedding", cells)
            .select(col("vec_id"),
              graft.sim.Pq.codes(col("embedding"), pq).as("codes"),
              col("cell"))
        // FROZEN arm: the stale qs27 models over the drifted corpus
        val pqOld = inFitGroup("qs35-pq_old") { graft.sim.Pq.fit(old,
          "vec_id", "embedding", m = 16, k = 256) }
        val annFrozen = Ivf.topKAdcOnIndex(
          enc(old, cellsOld, pqOld).unionByName(enc(dressed, cellsOld, pqOld)),
          q, "vec_id", "query_id", "qe", cellsOld, pqOld, k = 5, nprobe = 4)
        // REFIT arm: alarm fired — refit on the drifted union,
        // re-encode map-only
        val cellsNew = inFitGroup("qs35-cells_new") { Ivf.fit(drifted,
          "vec_id", "embedding", k = 8, iters = 0) }
        val pqNew = inFitGroup("qs35-pq_new") { graft.sim.Pq.fit(drifted,
          "vec_id", "embedding", m = 16, k = 256) }
        val annRefit = Ivf.topKAdcOnIndex(enc(drifted, cellsNew, pqNew),
          q, "vec_id", "query_id", "qe", cellsNew, pqNew, k = 5, nprobe = 4)
        val rf = Similarity.recallAtK(annFrozen, brute, k = 5)
          .select(col("query_id"), col("n_hit").as("nf"),
            col("n_exact"), col("recall").as("recall_frozen"))
        val rr = Similarity.recallAtK(annRefit, brute, k = 5)
          .select(col("query_id"), col("n_hit").as("nr"),
            col("recall").as("recall_refit"))
        rf.join(rr, Seq("query_id"))
          .select(col("query_id"),
            when(col("query_id") % 8 === 0, lit("drift"))
              .otherwise(lit("old")).as("region"),
            col("nf").cast("int").as("n_frozen"),
            col("nr").cast("int").as("n_refit"),
            col("n_exact").cast("int").as("n_exact"),
            col("recall_frozen"), col("recall_refit"))
          .orderBy(col("query_id"))
      },
      Some(s"""WITH $ivfDriftFixtureCtes,
        $ivfFrozenArmCtes,
        $ivfRefitSeedArmCtes,
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id,
          CASE WHEN ex.query_id % 8 = 0 THEN 'drift' ELSE 'old' END AS region,
          CAST(COALESCE(oh.n_hit, 0) AS INT) AS n_frozen,
          CAST(COALESCE(nh.n_hit, 0) AS INT) AS n_refit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(oh.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall_frozen,
          CAST(COALESCE(nh.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall_refit
        FROM ex LEFT JOIN ohit oh ON oh.query_id = ex.query_id
        LEFT JOIN nhit nh ON nh.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- Lloyd-refined refit (qs36): qs35 quantified the SEED-fit
    // refit's tradeoff — drift-region recall recovers 0.2 → 0.6 but
    // old-region pays 0.6 → 0.4, because 32 of 256 seed slots move to
    // near-identical clump points and displace old-region coverage.
    // This row pins the production answer: ONE Lloyd pass per PQ
    // subspace (Pq.fitLloyd at serving-grade m=16 × k=256) re-centers
    // the codebooks on the drifted union — MEASURED drift 0.60 → 0.65
    // AND old 0.40 → 0.53 (both SFs share the fixed 500-row fixture),
    // reclaiming most of the seed-fit's old-region loss at the SAME
    // serving cost (the refit still pays only the bounded-sample driver
    // fit + the map-only re-encode; the Lloyd pass adds k·sample driver
    // arithmetic, no extra cluster pass). Both arms serve the SAME
    // iters=0 coarse cells — the row isolates the codebook lever, and
    // the oracle's Lloyd arm reuses the seed arm's cell chain verbatim.
    // Oracle = the shared drift fixture + the seed refit arm + 16
    // generated unrolled-Lloyd subspace chains (ivfRefitLloydArmCtes).
    // ----
    QueryDef("qs36_refit_lloyd",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val old = e.filter(col("vec_id") % 8 =!= 0)
          .select(col("vec_id"), col("embedding"))
        val cellsOld = Ivf.fit(old, "vec_id", "embedding", k = 8, iters = 0)
        val c0Lit = array(cellsOld.centroids(0).map(lit): _*)
        val dressed = e.filter(col("vec_id") % 8 === 0)
          .select(col("vec_id"),
            zip_with(col("embedding"), c0Lit, (x, c) =>
              (x.cast("double") * lit(0.1) + c * lit(0.9)).cast("float"))
              .as("embedding"))
        val drifted = old.unionByName(dressed)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val q = drifted.filter(col("vec_id") < 4 ||
            (col("vec_id") % 8 === 0 && col("vec_id") < 32))
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val brute = Similarity.bruteTopK(drifted, q,
            "vec_id", "embedding", "query_id", "qe", k = 5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val cellsNew = inFitGroup("qs36-cells_new") { Ivf.fit(drifted,
          "vec_id", "embedding", k = 8, iters = 0) }
        def serve(pq: graft.sim.Pq.Model): DataFrame =
          Ivf.topKAdcOnIndex(
            Ivf.assign(drifted, "vec_id", "embedding", cellsNew)
              .select(col("vec_id"),
                graft.sim.Pq.codes(col("embedding"), pq).as("codes"),
                col("cell")),
            q, "vec_id", "query_id", "qe", cellsNew, pq, k = 5, nprobe = 4)
        val seedPq = inFitGroup("qs36-pq_seed") { graft.sim.Pq.fit(drifted,
          "vec_id", "embedding", m = 16, k = 256) }
        val lloydPq = inFitGroup("qs36-pq_lloyd") {
          graft.sim.Pq.fitLloyd(drifted, "vec_id", "embedding",
            m = 16, k = 256, iters = 1) }
        val rs = Similarity.recallAtK(serve(seedPq), brute, k = 5)
          .select(col("query_id"), col("n_hit").as("ns"),
            col("n_exact"), col("recall").as("recall_seed"))
        val rl = Similarity.recallAtK(serve(lloydPq), brute, k = 5)
          .select(col("query_id"), col("n_hit").as("nl"),
            col("recall").as("recall_lloyd"))
        rs.join(rl, Seq("query_id"))
          .select(col("query_id"),
            when(col("query_id") % 8 === 0, lit("drift"))
              .otherwise(lit("old")).as("region"),
            col("ns").cast("int").as("n_seed"),
            col("nl").cast("int").as("n_lloyd"),
            col("n_exact").cast("int").as("n_exact"),
            col("recall_seed"), col("recall_lloyd"))
          .orderBy(col("query_id"))
      },
      Some(s"""WITH $ivfDriftFixtureCtes,
        $ivfRefitSeedArmCtes,
        $ivfRefitLloydArmCtes,
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id,
          CASE WHEN ex.query_id % 8 = 0 THEN 'drift' ELSE 'old' END AS region,
          CAST(COALESCE(nh.n_hit, 0) AS INT) AS n_seed,
          CAST(COALESCE(lh.n_hit, 0) AS INT) AS n_lloyd,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(nh.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall_seed,
          CAST(COALESCE(lh.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall_lloyd
        FROM ex LEFT JOIN nhit nh ON nh.query_id = ex.query_id
        LEFT JOIN lhit lh ON lh.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- TOMBSTONE deletion at serve time (qs30): the story qs27's
    // append-only maintenance leaves open — released docs later
    // retracted (a 1-in-8 slice here) must never be served, and a
    // 100 TB code index is not re-encoded to forget them. Models and
    // index are built on the FULL corpus (the retraction arrives
    // AFTER the build — the realistic order); the tombstone table
    // anti-joins the index BEFORE the probe join
    // (Ivf.topKAdcOnIndexWithTombstones), so retracted codes never
    // enter the candidate shuffle, and the index artifact stays
    // immutable. MEASURED: mean recall 0.8 vs brute over the LIVE
    // corpus — serving around the holes costs nothing at this width
    // against qs24's 0.8 (the probe sets shift only where true
    // neighbors vanish).
    // The row also require()s zero tombstoned ids in the output — the
    // deletion contract as an executable claim, independent of the
    // oracle. Oracle: qs24's chain with the tombstone filter on brute
    // and candidates. ----
    QueryDef("qs30_tombstone_serving",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val live = e.filter(col("vec_id") % 8 =!= 3)
        val brute = Similarity.bruteTopK(live, q,
            "vec_id", "embedding", "query_id", "qe", k = 5)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
        val cells = Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 0)
        val index = Ivf.assign(e, "vec_id", "embedding", cells)
          .select(col("vec_id"),
            graft.sim.Pq.codes(col("embedding"), pq).as("codes"),
            col("cell"))
        val tomb = e.filter(col("vec_id") % 8 === 3).select(col("vec_id"))
        val ann = Ivf.topKAdcOnIndexWithTombstones(index, tomb, q,
            "vec_id", "query_id", "qe", cells, pq, k = 5, nprobe = 4)
          .persist(StorageLevel.MEMORY_AND_DISK)
        require(ann.filter(col("neighbor_id") % 8 === 3).isEmpty,
          "serving must never return a tombstoned id")
        Similarity.recallAtK(ann, brute, k = 5)
          .select(col("query_id"), col("n_hit").cast("int").as("n_hit"),
            col("n_exact").cast("int").as("n_exact"), col("recall"))
          .orderBy(col("query_id"))
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        br0 AS (SELECT qv.query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e, qv WHERE e.vec_id <> qv.query_id AND e.vec_id % 8 <> 3),
        br AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM br0) WHERE rk <= 5),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        cent AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        qp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN cent c) WHERE rk <= 4),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        pj AS (SELECT enc.vec_id, qp.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qp.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN ca ON ca.vec_id = enc.vec_id AND ca.vec_id % 8 <> 3
          JOIN qp ON qp.cell = ca.cell AND enc.vec_id <> qp.query_id),
        p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM pj GROUP BY vec_id, query_id),
        p1 AS (SELECT p0.query_id, p0.neighbor_id,
            num / (sqrt(rn) * sqrt(qn.qnsq)) AS cosine
          FROM p0 JOIN qn ON qn.query_id = p0.query_id),
        p5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM p1) WHERE rk <= 5),
        hit AS (SELECT a.query_id, COUNT(*) AS n_hit FROM p5 a
          JOIN br ON br.query_id = a.query_id AND br.neighbor_id = a.neighbor_id
          GROUP BY a.query_id),
        ex AS (SELECT query_id, COUNT(*) AS n_exact FROM br GROUP BY query_id)
        SELECT ex.query_id, CAST(COALESCE(hit.n_hit, 0) AS INT) AS n_hit,
          CAST(ex.n_exact AS INT) AS n_exact,
          CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / ex.n_exact AS recall
        FROM ex LEFT JOIN hit ON hit.query_id = ex.query_id
        ORDER BY ex.query_id""")),

    // ---- SEMANTIC decontamination (qs31): the paraphrase-leakage
    // guard the n-gram family (qt9/qt13/qt15) cannot provide — a
    // reworded eval answer shares no 8-gram with the original but
    // lands next to it in embedding space. NOT an ANN problem: the
    // eval side is benchmark-sized and broadcasts whole; the corpus
    // is scanned ONCE and the per-row nearest eval doc falls out of a
    // map-side-combining struct-max aggregate — no window, no sort,
    // the one shuffle carries |corpus| pre-folded rows
    // (Similarity.semanticContaminated). Threshold 0.35 calibrated
    // from the fixture's max-cosine distribution (p95 0.31 / p99
    // 0.37), so the flag GENUINELY trips: 8 of 500 flagged at sf0.01,
    // 35 of 2000 at sf0.1. Oracle: brute cosine + row_number top-1
    // (ties to lowest eval id — the struct max's (c, −eval_id)
    // ordering spelled as a window). ----
    QueryDef("qs31_semantic_decontamination",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val ev = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("eval_id"), col("embedding").as("ee"))
        Similarity.semanticContaminated(e, ev,
            "vec_id", "embedding", "eval_id", "ee", threshold = 0.35)
          .orderBy(col("vec_id"))
      },
      Some("""WITH ev AS (SELECT vec_id AS eval_id, embedding AS ee FROM embeddings WHERE vec_id < 8),
        sc AS (SELECT e.vec_id, ev.eval_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(ev.ee[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(ev.ee) + 1),
                i -> CAST(ev.ee[i] AS DOUBLE) * CAST(ev.ee[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e CROSS JOIN ev WHERE e.vec_id <> ev.eval_id)
        SELECT vec_id, eval_id AS nearest_eval_id,
          cosine AS max_eval_cosine, (cosine >= 0.35) AS contaminated
        FROM (SELECT vec_id, eval_id, cosine,
            ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY cosine DESC, eval_id) AS rk FROM sc)
        WHERE rk = 1 ORDER BY vec_id""")),

    // ---- URL canonicalization + registrable domain (qt26): the
    // provenance half of a web-corpus build — the same page fetched
    // through tracking-parameter variants must collapse to ONE key
    // before any URL-level dedup, and curation strata act on the
    // registrable domain, not the raw host. Canonicalization rules
    // (case, userinfo, trailing host dot, www, default ports,
    // fragment, utm_* strip, bytewise param sort, trailing slash) are
    // codegen built-ins riding the scan; the domain comes from the
    // FULL public-suffix algorithm (Urls.registrableDomainsPsl) over
    // the bundled ~880-rule resource — per-probe-length broadcast
    // lookups (KB-sized full-scale, map-side hash probes per row),
    // wildcard + exception rules, implicit * for unlisted TLDs. The
    // fixture's *.github.io arm is the case the heuristic gets wrong
    // (it collapses every user site into one 'github.io' stratum);
    // http://host:443 (id%6==1 — odd, so genuinely http) pins the
    // non-default-port keep path. Oracle mirrors the PSL list
    // verbatim. ----
    QueryDef("qt26_url_canonicalize",
      (s, dir) => graft.text.Urls.registrableDomainsPsl(
          urlsFromDocs(s, dir)
            .select(col("doc_id"), col("url"),
              graft.text.Urls.canonicalizeUrl(col("url")).as("canonical_url")),
          "url", "domain")
        .orderBy(col("doc_id")),
      Some(s"""WITH u AS (${urlFixtureSql()}),$urlDomainCtes
        SELECT doc_id, url, canonical_url, domain
        FROM dom ORDER BY doc_id""")),

    // ---- Per-domain volume cap (qt27): no single site may dominate
    // the mix — keep at most 8 docs per registrable domain, chosen by
    // salted deterministic hash order, ties by id (Urls.domainCap).
    // Physical shape: the bounded top-cap aggregate + threshold
    // join-back (graft.ops.TopK) — never a per-domain rank window,
    // which would pin a head domain's full sort on one task (domain
    // is the most skewed key a web corpus has; the Skew.capBuckets
    // standard). The keep set is provably the rank's (total (hash,
    // id) order; UrlsSpec pins window-equivalence), so the oracle
    // stays the row_number form. The cap GENUINELY trips: the
    // fixture's 40 domains hold ~12 docs each at sf0.01, so every
    // domain loses rows at cap 8 (qt29 measures the histogram the
    // cap is chosen from). ----
    QueryDef("qt27_domain_cap",
      (s, dir) => graft.text.Urls.domainCap(
          graft.text.Urls.registrableDomainsPsl(urlsFromDocs(s, dir),
              "url", "domain")
            .select(col("doc_id"), col("domain")),
          "doc_id", "domain", cap = 8)
        .orderBy(col("doc_id")),
      Some(s"""WITH u AS (${urlFixtureSql()}),$urlDomainCtes,
        r AS (SELECT doc_id, domain, ROW_NUMBER() OVER (PARTITION BY domain
            ORDER BY ('0x' || substr(md5('domcap:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
              doc_id) AS rk
          FROM dom)
        SELECT doc_id, domain, (rk <= 8) AS keep FROM r ORDER BY doc_id""")),

    // ---- Domain-skew audit (qt29, the qd13 analogue on the
    // provenance key): the per-domain volume histogram the cap is
    // CHOSEN from — domain sizes grouped into (domain_size,
    // n_domains) rows, the same measure-before-capping discipline
    // every banded dedup generator follows (qd13/qm11). At 100 TB
    // this is one partial-agg exchange over (domain) then a tiny
    // second fold — the head-domain row lands here long before it can
    // hurt the cap plan. ----
    QueryDef("qt29_domain_skew_audit",
      (s, dir) => graft.text.Urls.registrableDomainsPsl(urlsFromDocs(s, dir),
          "url", "domain")
        .groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
        .groupBy(col("n_docs").as("domain_size"))
        .agg(count(lit(1)).as("n_domains"))
        .orderBy(col("domain_size")),
      Some(s"""WITH u AS (${urlFixtureSql()}),$urlDomainCtes,
        ds AS (SELECT domain, COUNT(*) AS n_docs FROM dom GROUP BY domain)
        SELECT n_docs AS domain_size, COUNT(*) AS n_domains
        FROM ds GROUP BY n_docs ORDER BY domain_size""")),

    // ---- URL-keyed exact dedup (qt30): the C4 step between
    // canonicalization and the domain cap — collapse refetches of the
    // SAME page (tracking-param / www / slash / userinfo variants all
    // canonicalize to one key) onto the lowest doc_id, the qd1
    // canonical-keep treatment on the provenance key instead of the
    // content hash. Fixture: the pathMod=120 arm folds article paths
    // onto doc_id % 120 — every canonicalization-relevant arm divides
    // 120, so each residue class's ~4 docs at sf0.01 carry different
    // raw URLs and ONE canonical key: the dedup genuinely trips
    // (500 → 120 canonical reps). One groupBy(canonical_url) min —
    // partial-aggregable, no window, linear at any corpus size. ----
    QueryDef("qt30_url_dedup",
      (s, dir) => {
        val canon = urlsFromDocs(s, dir, pathMod = 120)
          .select(col("doc_id"),
            graft.text.Urls.canonicalizeUrl(col("url")).as("canonical_url"))
        val reps = canon.groupBy(col("canonical_url"))
          .agg(min(col("doc_id")).as("canonical_id"))
        canon.join(reps, "canonical_url")
          .select(col("doc_id"), col("canonical_url"), col("canonical_id"),
            (col("doc_id") === col("canonical_id")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH u AS (${urlFixtureSql("doc_id % 120")}),$urlDomainCtes
        SELECT doc_id, canonical_url,
          MIN(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
          (doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url)) AS keep
        FROM dom ORDER BY doc_id""")),

    // ---- INCREMENTAL URL dedup (qt31): qd8's daily-production story
    // on the provenance key — an arrival batch is checked against the
    // accumulated lake's canonical-URL keys (a page already fetched
    // is not fetched again), then deduped within itself. The qd8
    // hashSplit fixture (90/10 corpus/batch) over pathMod=360
    // colliding URLs (3 × the qt30 modulus — classes of ~1.4 docs, so
    // a batch doc's class often has NO lake member) makes both flags
    // genuinely trip at sf0.01: 26 of 46 batch docs are dup-of-lake,
    // 20 carry genuinely new pages, and 19 keep (one new class holds
    // two batch variants — the in-batch arm trips too). Scale shape: the lake side is its DISTINCT canonical keys
    // only (one partial-aggregable distinct, amortized across daily
    // batches as a stored key table), the batch joins it key-on-key —
    // output bounded by |batch|; the qt15 Bloom prefilter is the
    // documented cheaper arm when even the key shuffle is too much. ----
    QueryDef("qt31_incremental_url_dedup",
      (s, dir) => {
        val canon = urlsFromDocs(s, dir, pathMod = 360)
          .withColumn("part",
            TextOps.hashSplit(col("doc_id"), Seq(90), Seq("corpus", "batch")))
          .select(col("doc_id"), col("part"),
            graft.text.Urls.canonicalizeUrl(col("url")).as("canonical_url"))
        val lakeKeys = canon.filter(col("part") === "corpus")
          .select(col("canonical_url")).distinct()
          .withColumn("__in_lake", lit(true))
        val batch = canon.filter(col("part") === "batch")
        val reps = batch.groupBy(col("canonical_url"))
          .agg(min(col("doc_id")).as("batch_canonical_id"))
        batch.join(lakeKeys, Seq("canonical_url"), "left")
          .join(reps, "canonical_url")
          .select(col("doc_id"), col("canonical_url"),
            coalesce(col("__in_lake"), lit(false)).as("dup_of_lake"),
            col("batch_canonical_id"),
            (coalesce(!col("__in_lake"), lit(true)) &&
              col("doc_id") === col("batch_canonical_id")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH u AS (${urlFixtureSql("doc_id % 360")}),$urlDomainCtes,
        pc AS (SELECT doc_id, canonical_url,
            (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90) AS in_corpus
          FROM dom),
        lk AS (SELECT DISTINCT canonical_url FROM pc WHERE in_corpus),
        bt AS (SELECT doc_id, canonical_url FROM pc WHERE NOT in_corpus),
        rp AS (SELECT canonical_url, MIN(doc_id) AS batch_canonical_id
          FROM bt GROUP BY canonical_url)
        SELECT bt.doc_id, bt.canonical_url,
          (lk.canonical_url IS NOT NULL) AS dup_of_lake,
          rp.batch_canonical_id,
          (lk.canonical_url IS NULL AND bt.doc_id = rp.batch_canonical_id) AS keep
        FROM bt LEFT JOIN lk ON lk.canonical_url = bt.canonical_url
        JOIN rp ON rp.canonical_url = bt.canonical_url
        ORDER BY bt.doc_id""")),

    // ---- BPE tokenization (qt32): the REAL token denominator. A
    // native codegen Expression (graft.functions.BpeEncode) encodes
    // each document with the bundled 200-merge byte-level table
    // (learned from the corpus by scripts/train_bpe.py) — min-rank-
    // first BPE, O(n log n) heap form, riding the scan inside
    // whole-stage codegen. The oracle replays the SAME resource as a
    // rank-ordered replace-sweep recursive CTE (equivalence argument
    // in Bpe.scala, pinned by BpeSpec). Whitespace counts shown
    // alongside: on this corpus the 200-merge table lands at ~51.4
    // BPE tokens/doc vs ~54.3 whitespace words (merges cross spaces,
    // so frequent word+space units fuse) — and the gap is corpus-
    // dependent, which is exactly why budgeting in "words" mis-sizes
    // packing bins and mixture budgets: the two denominators drift
    // apart document by document (chars_per_tok ~5.8 here, ~2-4 on
    // real web text with a production vocab). ----
    QueryDef("qt32_bpe_tokenize",
      (s, dir) => {
        val txt = col("text")
        val nrm = TextOps.norm(txt)
        // BPE encode is per-row-heavy and documents arrives as ONE scan
        // partition at bench SFs - spread or the encode runs one-core
        graft.ops.Partitioning.spread(t(s, dir, "documents")).select(
          col("doc_id"),
          graft.functions.BpeEncode.bpe_token_count(txt).as("n_tok_bpe"),
          TextOps.tokenCountWs(txt).as("n_tok_ws"),
          length(nrm).as("n_chars_norm"),
          (length(nrm).cast("double") /
            graft.functions.BpeEncode.bpe_token_count(txt).cast("double"))
            .as("chars_per_tok"),
          concat_ws(",", slice(
            graft.functions.BpeEncode.bpe_tokens(txt), 1, 5)).as("head_toks"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $bpeCteSql,
        d AS (SELECT doc_id, $normSql AS nrm FROM documents)
        SELECT d.doc_id,
          CAST(bpe.n_tok_bpe AS INT) AS n_tok_bpe,
          CAST(len(string_split(nrm, ' ')) AS INT) AS n_tok_ws,
          CAST(length(nrm) AS INT) AS n_chars_norm,
          CAST(length(nrm) AS DOUBLE) / CAST(bpe.n_tok_bpe AS DOUBLE) AS chars_per_tok,
          array_to_string(string_split(trim(bpe.bpe_s, '|'), '||')[1:5], ',') AS head_toks
        FROM d JOIN bpe ON bpe.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ---- BPE-denominated sequence packing (qt33): qt10's shard-local
    // concat-then-chop bin assignment with the denominator the trainer
    // actually consumes. Same Pack.packBins operator — the token-count
    // column is a parameter — so the packing plan shape (one window
    // per hash shard, no global sort) is unchanged; only the bin
    // arithmetic moves from whitespace words to BPE tokens. ----
    QueryDef("qt33_bpe_pack",
      (s, dir) => {
        val d = graft.ops.Partitioning.spread(t(s, dir, "documents"))
        graft.text.Pack.packBins(d, "doc_id",
            graft.functions.BpeEncode.bpe_token_count(col("text")),
            binTokens = 64, shards = 8)
          .withColumn("n_tok", col("n_tok").cast("int"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $bpeCteSql,
        d AS (SELECT doc_id, CAST(n_tok_bpe AS BIGINT) AS n_tok,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM bpe),
        sh AS (SELECT doc_id, n_tok, h, CAST(h % 8 AS INT) AS shard FROM d),
        c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sh)
        SELECT doc_id, CAST(n_tok AS INT) AS n_tok, shard,
          CAST((cum - n_tok) // 64 AS BIGINT) AS bin,
          CAST(cum - n_tok AS BIGINT)
            - CAST((cum - n_tok) // 64 AS BIGINT) * 64 AS bin_offset
        FROM c ORDER BY doc_id""")),

    // ---- In-engine BPE TRAINING (qt39): the head of the trainer
    // chain qt32/qt33/qt34 consume — learn the first K merges FROM the
    // corpus, distributed (per-round: one pair-count aggregate over
    // the persisted delimiter-string state + a driver argmax of one
    // row + one codegen `replace` sweep — the bounded-iteration fit
    // shape of the unrolled-Lloyd rows). K = 20 keeps the row
    // driver-sized while exercising the full loop; BpeTrainSpec closes
    // the provenance loop by pinning the learned prefix == the bundled
    // scripts/train_bpe.py table on the sf0.001 corpus it was frozen
    // from. The oracle replays all K rounds as an unrolled
    // MATERIALIZED CTE chain — the trainer is fully oracled on EVERY
    // corpus, not just the fixture's. ----
    // The row trains on a deterministic 1-in-10 corpus slice — vocab
    // learning is statistics over pair frequencies, and production
    // trainers sample their corpus for exactly this reason (the loop
    // is identical; the caller chooses the slice). K x one-aggregate-
    // per-round is the cost shape either way.
    QueryDef("qt39_bpe_train",
      (s, dir) => graft.text.BpeTrain
        .trainMerges(t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 0), "text", k = 20)
        .orderBy(col("rank")),
      Some(bpeTrainSql(20))),

    // ---- TOKEN-budget mixture targeting (qt34): qt22's language
    // recipe re-denominated in BPE tokens — the form a trainer's data
    // card actually specifies ("40% en BY TOKENS"). Stratum token
    // totals -> binding total T = min(tok_g/w_g) -> per-stratum token
    // budget least(floor(w_g*T), tok_g); documents fill each stratum's
    // budget in salted-hash order, SHARD-LOCALLY (the qt10/Pack
    // precedent: per-(stratum, shard) cumulative windows, budget split
    // evenly across shards — no global sort, parallelism caller-
    // chosen; a doc keeps iff its START offset is inside the shard
    // budget, concat-then-chop semantics, so per-shard overshoot is
    // bounded by one document). ----
    QueryDef("qt34_mixture_tokens",
      (s, dir) => graft.text.Mixture.mixtureKeepTokens(
          graft.ops.Partitioning.spread(t(s, dir, "documents")), "doc_id", "lang",
          graft.functions.BpeEncode.bpe_token_count(col("text")),
          Seq("en" -> 0.4, "zh" -> 0.2, "es" -> 0.2, "de" -> 0.1,
            "fr" -> 0.1), shards = 8)
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $bpeCteSql,
        b AS (SELECT d.doc_id, d.lang, CAST(bpe.n_tok_bpe AS BIGINT) AS n_tok,
            ('0x' || substr(md5('mixtok:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM documents d JOIN bpe ON bpe.doc_id = d.doc_id),
        b2 AS (SELECT *, CAST(h % 8 AS INT) AS shard FROM b),
        sh AS (SELECT lang, CAST(share AS DOUBLE) AS share
          FROM (VALUES ('en', 0.4), ('zh', 0.2), ('es', 0.2),
            ('de', 0.1), ('fr', 0.1)) v(lang, share)),
        sz AS (SELECT lang, SUM(n_tok) AS grp_tok FROM b2 GROUP BY lang),
        tt AS (SELECT MIN(CAST(sz.grp_tok AS DOUBLE) / sh.share) AS mix_total
          FROM sz JOIN sh ON sh.lang = sz.lang),
        tg AS (SELECT sz.lang, sz.grp_tok,
            CASE WHEN CAST(sz.grp_tok AS DOUBLE) / sh.share = tt.mix_total
              THEN sz.grp_tok
              ELSE CAST(LEAST(FLOOR(sh.share * tt.mix_total),
                CAST(sz.grp_tok AS DOUBLE)) AS BIGINT) END AS target_tok
          FROM sz JOIN sh ON sh.lang = sz.lang CROSS JOIN tt),
        c AS (SELECT b2.*, SUM(n_tok) OVER (PARTITION BY b2.lang, b2.shard
            ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b2)
        SELECT c.doc_id, c.lang, CAST(c.n_tok AS INT) AS n_tok,
          CAST(tg.grp_tok AS INT) AS grp_tok,
          CAST(tg.target_tok AS INT) AS target_tok, c.shard,
          (c.cum - c.n_tok) <
            CAST(tg.target_tok // 8 AS BIGINT) AS keep
        FROM c JOIN tg ON tg.lang = c.lang ORDER BY c.doc_id""")),

    // ---- EXACT-substring decontamination (qt35): the suffix-array-
    // class hygiene check (Lee et al. 2022) the fixed-n gram family
    // (qt9/qt13/qt15) approximates — per (train, eval) pair, the EXACT
    // longest shared token run, via positional anchor grams +
    // diagonal-island extension (never all-pairs; window bounded by
    // one document's grams). anchor=5 < the verdict threshold 8, so
    // the fixture exercises BOTH arms at sf0.01: 3 contaminated pairs
    // whose planted runs extend to 39/61/93 tokens (islands of 35/57/
    // 89 anchors — the extension genuinely computes lengths no single
    // anchor width sees) and 3 measured NEGATIVES (coincidental
    // 5-token runs, below threshold, reported not flagged). ----
    QueryDef("qt35_exact_substring",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("split",
          TextOps.hashSplit(col("doc_id"), Seq(90), Seq("train", "eval")))
        graft.text.Decontaminate.longestSharedRun(
            docs.filter(col("split") === "train"),
            docs.filter(col("split") === "eval"),
            "text", "doc_id", anchor = 5)
          .withColumn("contaminated", col("max_run_tok") >= 8)
          .orderBy(col("train_id"), col("eval_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks,
            (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90) AS is_train
          FROM documents),
        g AS (SELECT doc_id, is_train, toks,
            unnest(generate_series(1, len(toks) - 5 + 1)) AS i
          FROM d WHERE len(toks) >= 5),
        pg AS (SELECT doc_id, is_train, i - 1 AS pos,
            ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT AS g
          FROM g),
        tr AS (SELECT doc_id AS train_id, pos AS tpos, g FROM pg WHERE is_train),
        ev AS (SELECT doc_id AS eval_id, pos AS epos, g FROM pg WHERE NOT is_train),
        m AS (SELECT train_id, eval_id, tpos, tpos - epos AS diag
          FROM tr JOIN ev USING (g)),
        isl AS (SELECT train_id, eval_id, diag, tpos,
            tpos - ROW_NUMBER() OVER (PARTITION BY train_id, eval_id, diag
              ORDER BY tpos) AS island
          FROM m),
        rn AS (SELECT train_id, eval_id, COUNT(*) AS n_anchor
          FROM isl GROUP BY train_id, eval_id, diag, island)
        SELECT train_id, eval_id,
          CAST(MAX(n_anchor) + 4 AS INT) AS max_run_tok,
          CAST(COUNT(*) AS INT) AS n_runs,
          CAST(SUM(n_anchor) AS INT) AS n_anchors,
          (MAX(n_anchor) + 4 >= 8) AS contaminated
        FROM rn GROUP BY train_id, eval_id
        ORDER BY train_id, eval_id""")),

    // ---- Span excision (qt37): qt35's verdicts applied SURGICALLY —
    // Lee et al. 2022's actual treatment drops the shared SPAN, not
    // the document (wholesale drops waste the uncontaminated bulk of
    // a long page). One row per train doc (the qs31 every-row
    // contract): spans ≥ 8 tokens shared with any eval doc become
    // half-open token ranges, folded to one array per CONTAMINATED
    // doc and attached by a doc-keyed left join; the excision is a
    // positional lambda filter riding the scan — overlapping spans
    // need no merge, position membership is a disjunction. Fixture:
    // the planted 39/61/93-token runs genuinely excise (doc 387
    // empties entirely — the boundary case where surgery converges
    // to the drop verdict). ----
    QueryDef("qt37_span_excision",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("split",
          TextOps.hashSplit(col("doc_id"), Seq(90), Seq("train", "eval")))
        graft.text.Decontaminate.exciseSharedRuns(
            docs.filter(col("split") === "train"),
            docs.filter(col("split") === "eval"),
            "text", "doc_id", anchor = 5, minRun = 8)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks,
            (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90) AS is_train
          FROM documents),
        g AS (SELECT doc_id, is_train, toks,
            unnest(generate_series(1, len(toks) - 5 + 1)) AS i
          FROM d WHERE len(toks) >= 5),
        pg AS (SELECT doc_id, is_train, i - 1 AS pos,
            ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT AS g
          FROM g),
        tr AS (SELECT doc_id AS train_id, pos AS tpos, g FROM pg WHERE is_train),
        ev AS (SELECT doc_id AS eval_id, pos AS epos, g FROM pg WHERE NOT is_train),
        m AS (SELECT train_id, eval_id, tpos, tpos - epos AS diag
          FROM tr JOIN ev USING (g)),
        isl AS (SELECT train_id, eval_id, diag, tpos,
            tpos - ROW_NUMBER() OVER (PARTITION BY train_id, eval_id, diag
              ORDER BY tpos) AS island
          FROM m),
        runs AS (SELECT train_id, MIN(tpos) AS s,
            CAST(COUNT(*) + 4 AS BIGINT) AS run_len
          FROM isl GROUP BY train_id, eval_id, diag, island
          HAVING COUNT(*) + 4 >= 8),
        spans AS (SELECT DISTINCT train_id, s, s + run_len AS e FROM runs),
        ns AS (SELECT train_id, COUNT(*) AS n_spans FROM spans GROUP BY train_id),
        tp AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
          FROM d WHERE is_train),
        px AS (SELECT tp.doc_id, tp.i, tp.toks[tp.i] AS tok,
            EXISTS (SELECT 1 FROM spans sp WHERE sp.train_id = tp.doc_id
              AND tp.i - 1 >= sp.s AND tp.i - 1 < sp.e) AS cut
          FROM tp),
        outx AS (SELECT doc_id,
            CAST(COUNT(*) AS INT) AS n_tok,
            CAST(SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS INT) AS n_excised,
            COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE NOT cut), '') AS redacted_text
          FROM px GROUP BY doc_id)
        SELECT outx.doc_id, CAST(COALESCE(ns.n_spans, 0) AS INT) AS n_spans,
          outx.n_tok, outx.n_excised, outx.redacted_text
        FROM outx LEFT JOIN ns ON ns.train_id = outx.doc_id
        ORDER BY outx.doc_id""")),

    // ---- INTRA-document repetition excision (qt38): the third
    // published ExactSubstr form — Lee et al. 2022's dedup applies to
    // a substring repeating WITHIN one document too (boilerplate
    // footers, template loops, scraper stutter); qt35/qt37 cover the
    // cross-corpus pair, this covers the self pair. Same anchor/
    // diagonal/island chain, matched within each doc with strict
    // position order — ONE corpus gram pass (positions grouped per
    // (doc, gram), ordered pairs unfolded from the sorted position
    // array; the self-join form encoded the corpus twice and was
    // measured out — reasoning in Decontaminate.scala); spans are the
    // LATER occurrences, so excision keeps exactly the first — per-
    // doc verdict rows (the every-row contract). Fixture: doc_id%10
    // docs get their own first 20 normalized tokens re-appended — a
    // genuine >= 20-token self-repeat that excises back out (the
    // redacted text returns to the original for docs whose planted
    // copy doesn't coincidentally extend); all other docs are
    // measured negatives unless the corpus carries a natural >= 8
    // repeat. No per-gram cap BY CONTRACT (a capped gram is a missed
    // repeat); pathological periodic docs are qt8's gate, upstream. ----
    QueryDef("qt38_intra_doc_excision",
      (s, dir) => {
        val nrm = TextOps.norm(col("text"))
        val docs = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 10 === 0,
            concat_ws(" ", nrm,
              array_join(slice(split(nrm, " "), 1, 20), " ")))
            .otherwise(nrm).as("rtext"))
        graft.text.Decontaminate.exciseRepeatedRuns(docs, "rtext",
            "doc_id", anchor = 5, minRun = 8)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d0 AS (SELECT doc_id, $normSql AS nrm FROM documents),
        d AS (SELECT doc_id, string_split(lower(trim(regexp_replace(
            CASE WHEN doc_id % 10 = 0 THEN nrm || ' ' ||
              array_to_string(string_split(nrm, ' ')[1:20], ' ')
            ELSE nrm END, '\\s+', ' ', 'g'))), ' ') AS toks
          FROM d0),
        pg AS (SELECT doc_id, i - 1 AS pos,
            ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT AS g
          FROM (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - 5 + 1)) AS i
            FROM d WHERE len(toks) >= 5) q),
        m AS (SELECT a.doc_id, b.pos - a.pos AS diag, b.pos AS jpos
          FROM pg a JOIN pg b
            ON a.doc_id = b.doc_id AND a.g = b.g AND b.pos > a.pos),
        isl AS (SELECT doc_id, diag, jpos,
            jpos - ROW_NUMBER() OVER (PARTITION BY doc_id, diag
              ORDER BY jpos) AS island
          FROM m),
        runs AS (SELECT doc_id, MIN(jpos) AS s,
            CAST(COUNT(*) + 4 AS BIGINT) AS run_len
          FROM isl GROUP BY doc_id, diag, island
          HAVING COUNT(*) + 4 >= 8),
        spans AS (SELECT DISTINCT doc_id, s, s + run_len AS e FROM runs),
        ns AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id),
        tp AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
          FROM d),
        px AS (SELECT tp.doc_id, tp.i, tp.toks[tp.i] AS tok,
            EXISTS (SELECT 1 FROM spans sp WHERE sp.doc_id = tp.doc_id
              AND tp.i - 1 >= sp.s AND tp.i - 1 < sp.e) AS cut
          FROM tp),
        outx AS (SELECT doc_id,
            CAST(COUNT(*) AS INT) AS n_tok,
            CAST(SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS INT) AS n_excised,
            COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE NOT cut), '') AS redacted_text
          FROM px GROUP BY doc_id)
        SELECT outx.doc_id, CAST(COALESCE(ns.n_spans, 0) AS INT) AS n_spans,
          outx.n_tok, outx.n_excised, outx.redacted_text
        FROM outx LEFT JOIN ns USING (doc_id)
        ORDER BY outx.doc_id""")),

    // ---- Pre-tokenized BPE arm (qt42): the bundled encode is
    // deliberately pre-tokenizer-free (merges cross spaces); GPT-2-
    // class production tokenizers regex-split FIRST, changing counts
    // exactly at word boundaries. This row runs BOTH arms of the SAME
    // table in one scan — free-crossing (qt32's denominator) and
    // space-attached pre-tokens (the Ġ convention; space merges still
    // fire WITHIN a pre-token) — and reports the per-doc boundary
    // delta, making the denominator choice a measured quantity. The
    // oracle replays the sweep per PRE-TOKEN row through the same
    // bpem table (equivalence per pre-token: same trainer-table
    // argument, BpeSpec-pinned). ----
    QueryDef("qt42_bpe_pretokenized",
      (s, dir) => graft.ops.Partitioning.spread(t(s, dir, "documents"))
        .select(col("doc_id"),
          graft.functions.BpeEncode.bpe_token_count(col("text"))
            .as("n_tok_bpe"),
          graft.functions.BpeEncode.bpe_token_count_pretok(col("text"))
            .as("n_tok_pretok"))
        .withColumn("boundary_delta",
          col("n_tok_pretok") - col("n_tok_bpe"))
        .orderBy(col("doc_id")),
      Some {
        val nm = graft.text.Bpe.fixture.merges.length
        s"""WITH RECURSIVE $bpeCteSql,
        ptw AS (SELECT doc_id, i, CASE WHEN i = 1 THEN w[i]
            ELSE ' ' || w[i] END AS pt
          FROM (SELECT doc_id, string_split($normSql, ' ') AS w,
              unnest(generate_series(1, len(string_split($normSql, ' ')))) AS i
            FROM documents) q),
        ptbase AS (SELECT doc_id, i, CASE WHEN pt = '' THEN ''
            ELSE '|' || array_to_string(string_split(pt, ''), '||') || '|' END AS s
          FROM ptw),
        ptst AS (SELECT doc_id, i, s, 0 AS it FROM ptbase
          UNION ALL
          SELECT ptst.doc_id, ptst.i, replace(ptst.s, bpem.pat, bpem.rep),
            ptst.it + 1
          FROM ptst JOIN bpem ON bpem.rk = ptst.it),
        ptn AS (SELECT doc_id, SUM(CASE WHEN s = '' THEN 0
            ELSE len(string_split(s, '||')) END) AS n_pretok
          FROM ptst WHERE it = $nm GROUP BY doc_id)
        SELECT b.doc_id, CAST(b.n_tok_bpe AS INT) AS n_tok_bpe,
          CAST(ptn.n_pretok AS INT) AS n_tok_pretok,
          CAST(ptn.n_pretok - b.n_tok_bpe AS INT) AS boundary_delta
        FROM bpe b JOIN ptn ON ptn.doc_id = b.doc_id
        ORDER BY b.doc_id"""
      }),

    // ---- TRAIN-TRAIN cross-document exact-substring dedup (qt40):
    // the remaining published ExactSubstr form (Lee et al. 2022 —
    // qt35/qt37 are train-EVAL, qt38 is within-doc): every >= 8-token
    // run shared verbatim by two distinct documents is excised from
    // the higher-id document, keeping exactly the lowest-id copy
    // corpus-wide. ONE gram pass, positions grouped per gram ACROSS
    // docs, ordered (da < db) pairs unfolded from the sorted
    // occurrence array, islands per (da, db, diagonal) — no self-join,
    // no cap (see crossDocRunSpans' posting-posture note; qt41 is the
    // audit). The corpus trips naturally at every SF (25 shared runs
    // >= 8 tokens at sf0.01, 256 at sf0.1, max ~95 tokens) with
    // hundreds of measured negatives. ----
    QueryDef("qt40_cross_doc_dedup",
      (s, dir) => graft.text.Decontaminate.exciseCrossDocRuns(
          t(s, dir, "documents"), "text", "doc_id",
          anchor = 5, minRun = 8)
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
          FROM documents),
        pg AS (SELECT doc_id, i - 1 AS pos,
            ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT AS g
          FROM (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - 5 + 1)) AS i
            FROM d WHERE len(toks) >= 5) q),
        m AS (SELECT a.doc_id AS da, b.doc_id AS db,
            b.pos - a.pos AS diag, b.pos AS jpos
          FROM pg a JOIN pg b
            ON a.g = b.g AND a.doc_id < b.doc_id),
        isl AS (SELECT da, db, diag, jpos,
            jpos - ROW_NUMBER() OVER (PARTITION BY da, db, diag
              ORDER BY jpos) AS island
          FROM m),
        runs AS (SELECT db AS doc_id, MIN(jpos) AS s,
            CAST(COUNT(*) + 4 AS BIGINT) AS run_len
          FROM isl GROUP BY da, db, diag, island
          HAVING COUNT(*) + 4 >= 8),
        spans AS (SELECT DISTINCT doc_id, s, s + run_len AS e FROM runs),
        ns AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id),
        tp AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
          FROM d),
        px AS (SELECT tp.doc_id, tp.i, tp.toks[tp.i] AS tok,
            EXISTS (SELECT 1 FROM spans sp WHERE sp.doc_id = tp.doc_id
              AND tp.i - 1 >= sp.s AND tp.i - 1 < sp.e) AS cut
          FROM tp),
        outx AS (SELECT doc_id,
            CAST(COUNT(*) AS INT) AS n_tok,
            CAST(SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS INT) AS n_excised,
            COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE NOT cut), '') AS redacted_text
          FROM px GROUP BY doc_id)
        SELECT outx.doc_id, CAST(COALESCE(ns.n_spans, 0) AS INT) AS n_spans,
          outx.n_tok, outx.n_excised, outx.redacted_text
        FROM outx LEFT JOIN ns USING (doc_id)
        ORDER BY outx.doc_id""")),

    // ---- ExactSubstr postings audit (qt41) — the qd13 measure-the-
    // guard discipline for the gram-posting skew the no-cap contract
    // rides on: from ONE gram pass, the posting-size histogram at BOTH
    // scopes (per-(doc, gram) position lists — qt38's unfold bound —
    // and per-gram corpus-wide occurrence counts — qt40's Σm² pair
    // work), each on BOTH sides of the qt8-class repetition gate
    // (dup_token_frac <= 0.65, dropping ~20% of this corpus — a
    // genuinely tripping gate, the qt36 2-arms-per-doc explode). The
    // residual after the gate is thereby measured, not asserted. ----
    QueryDef("qt41_postings_audit",
      (s, dir) => {
        val armed = graft.ops.Partitioning.spread(t(s, dir, "documents"))
          .select(col("doc_id"), col("text"),
            TextOps.dupTokenFraction(col("text")).as("dtf"))
          .select(col("doc_id"), col("text"),
            explode(when(col("dtf") <= 0.65,
              array(lit("all"), lit("post_gate")))
              .otherwise(array(lit("all")))).as("arm"))
        val occ = armed.select(col("arm"), col("doc_id"),
          posexplode(graft.functions.WordNgramHashes
            .word_ngram_hashes_pos(col("text"), 5)).as(Seq("pos", "g")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val intra = occ.groupBy(col("arm"), col("doc_id"), col("g"))
          .agg(count(lit(1)).as("m"))
          .groupBy(col("arm"), col("m"))
          .agg(count(lit(1)).as("n_groups"))
          .select(lit("intra_doc").as("scope"), col("arm"),
            col("m").cast("int").as("list_size"), col("n_groups"))
        val cross = occ.groupBy(col("arm"), col("g"))
          .agg(count(lit(1)).as("m"))
          .groupBy(col("arm"), col("m"))
          .agg(count(lit(1)).as("n_groups"))
          .select(lit("cross_doc").as("scope"), col("arm"),
            col("m").cast("int").as("list_size"), col("n_groups"))
        intra.unionByName(cross)
          .orderBy(col("scope"), col("arm"), col("list_size"))
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
          FROM documents),
        dupf AS (SELECT doc_id,
            CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(toks)) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) AS dtf
          FROM d),
        arms AS (SELECT doc_id, unnest(CASE WHEN dtf <= 0.65
            THEN ['all', 'post_gate'] ELSE ['all'] END) AS arm
          FROM dupf),
        pg AS (SELECT doc_id, i - 1 AS pos,
            ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT AS g
          FROM (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - 5 + 1)) AS i
            FROM d WHERE len(toks) >= 5) q),
        o AS (SELECT a.arm, pg.doc_id, pg.g FROM pg
          JOIN arms a ON a.doc_id = pg.doc_id),
        intra AS (SELECT arm, doc_id, g, COUNT(*) AS m FROM o GROUP BY 1, 2, 3),
        ih AS (SELECT 'intra_doc' AS scope, arm,
            CAST(m AS INT) AS list_size, CAST(COUNT(*) AS BIGINT) AS n_groups
          FROM intra GROUP BY arm, m),
        crossg AS (SELECT arm, g, COUNT(*) AS m FROM o GROUP BY 1, 2),
        ch AS (SELECT 'cross_doc' AS scope, arm,
            CAST(m AS INT) AS list_size, CAST(COUNT(*) AS BIGINT) AS n_groups
          FROM crossg GROUP BY arm, m)
        SELECT * FROM ih UNION ALL SELECT * FROM ch
        ORDER BY scope, arm, list_size""")),

    // ---- In-engine n-gram LM quality scoring (qt43): the CCNet
    // pipeline's model half — train a per-language Stupid Backoff
    // trigram LM on a trusted target slice of the corpus itself
    // (doc_id % 5 = 0, the deterministic stand-in for "our Wikipedia
    // dump"), then score EVERY document by mean per-token
    // predictability. Counting is three exploded integer aggregates;
    // scoring is one corpus pass with three broadcast model joins and
    // a FIXED-POINT mean (order-independent long sum — log-free by
    // construction; see NgramLm's scaladoc for why the log/exp pair
    // stays out of the oracled value path and why the fixed-point
    // grid replaces an ordered fold). The corpus is dressed with id-derived rare
    // tokens (doc_id % 31 = 17 appends ' zq<doc_id % 50>') so the
    // add-one OOV floor and the minCount prune GENUINELY trip at
    // every SF: by CRT the trained zq tokens are exactly the % 50
    // residues divisible by 5, every other zq stays OOV. ----
    QueryDef("qt43_ngram_lm_score",
      (s, dir) => {
        val docs = lmDocs(s, dir)
        val model = graft.text.NgramLm.train(
          docs.filter(col("doc_id") % 5 === 0), "text2", "lang")
        graft.text.NgramLm.score(docs, "doc_id", "text2", "lang", model)
          .orderBy(col("doc_id"))
      },
      Some(s"WITH $ngramLmCteSql\n" +
        "SELECT doc_id, lang, n_tok, lm_score FROM scs ORDER BY doc_id")),

    // ---- CCNet head/middle/tail gate (qt44): per-language tertile
    // thresholds over qt43's score, taken as exact order statistics
    // of a deterministic id-sample (CCNet computes its cutoffs on a
    // sample — which also keeps the only sort sample-sized and slim);
    // bucket by strict comparison against the sampled elements, keep
    // = head ∨ middle. Buckets genuinely partition at every SF
    // (sf0.01: 196/146/158 head/middle/tail). ----
    QueryDef("qt44_lm_tertile_gate",
      (s, dir) => {
        val docs = lmDocs(s, dir)
        val model = graft.text.NgramLm.train(
          docs.filter(col("doc_id") % 5 === 0), "text2", "lang")
        // tertileGate consumes scores TWICE (threshold sample +
        // final join) — persist the scored table (slim, doc-count
        // rows) or the whole LM pipeline re-derives per consumer
        // (the qx10/qd7 class)
        val scores = graft.text.NgramLm.score(
            docs, "doc_id", "text2", "lang", model)
          .persist(StorageLevel.MEMORY_AND_DISK)
        graft.text.NgramLm.tertileGate(scores)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $ngramLmCteSql,
        smp AS (SELECT lang, lm_score, doc_id FROM scs WHERE doc_id % 3 = 0),
        rk AS (SELECT lang, lm_score,
            ROW_NUMBER() OVER (PARTITION BY lang ORDER BY lm_score, doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY lang) AS m FROM smp),
        th AS (SELECT lang,
            MAX(CASE WHEN rn = CAST(ceil(CAST(m AS DOUBLE) / 3.0) AS BIGINT)
              THEN lm_score END) AS t1,
            MAX(CASE WHEN rn = CAST(ceil(2.0 * CAST(m AS DOUBLE) / 3.0) AS BIGINT)
              THEN lm_score END) AS t2
          FROM rk GROUP BY lang)
        SELECT s.doc_id, s.lang, s.lm_score,
          CASE WHEN th.t2 IS NOT NULL AND s.lm_score > th.t2 THEN 'head'
               WHEN th.t1 IS NOT NULL AND s.lm_score > th.t1 THEN 'middle'
               ELSE 'tail' END AS bucket,
          COALESCE(s.lm_score > th.t1, FALSE) AS keep
        FROM scs s LEFT JOIN th ON th.lang = s.lang ORDER BY s.doc_id""")),

    // ---- Tokenizer fertility audit (qt45): the per-language
    // tokenizer-quality table a multilingual corpus build signs off
    // on (fertility — subword tokens per word — is the standard
    // cross-language tokenizer metric, Rust et al. 2021,
    // arXiv:2012.15613): BPE tokens per whitespace word and chars per
    // BPE token, per language. qt32 showed the two denominators drift
    // document by document; this row aggregates the drift to the
    // slice level where mixture and packing decisions are actually
    // made (a language whose fertility runs high gets silently
    // under-weighted by a word-denominated budget). One corpus scan:
    // the codegen BPE count rides the scan (spread first — the
    // one-partition gotcha), integer partial aggregates map-side into
    // a |languages|-row table, two exact-long divisions at the end.
    // ----
    QueryDef("qt45_tokenizer_fertility",
      (s, dir) => {
        val txt = col("text")
        val nrm = TextOps.norm(txt)
        graft.ops.Partitioning.spread(t(s, dir, "documents"))
          .select(col("lang"),
            graft.functions.BpeEncode.bpe_token_count(txt).as("nt"),
            // empty-text guard: size(split('', ' ')) = 1 in Spark but
            // the whitespace word count of an empty doc is 0 — mirror
            // the oracle's CASE so an empty/ws-only document cannot
            // silently skew fertility
            when(nrm === "", lit(0))
              .otherwise(TextOps.tokenCountWs(txt)).as("nw"),
            length(nrm).as("nc"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast("int").as("n_docs"),
            sum(col("nc")).as("n_chars"),
            sum(col("nw")).as("n_words"),
            sum(col("nt")).as("n_bpe_tokens"))
          .select(col("lang"), col("n_docs"), col("n_chars"),
            col("n_words"), col("n_bpe_tokens"),
            (col("n_bpe_tokens").cast("double") /
              col("n_words").cast("double")).as("fertility"),
            (col("n_chars").cast("double") /
              col("n_bpe_tokens").cast("double")).as("chars_per_token"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH RECURSIVE $bpeCteSql,
        fb AS (SELECT doc_id, lang, length($normSql) AS nc,
            CASE WHEN $normSql = '' THEN 0
              ELSE len(string_split($normSql, ' ')) END AS nw
          FROM documents)
        SELECT fb.lang, CAST(COUNT(*) AS INT) AS n_docs,
          CAST(SUM(fb.nc) AS BIGINT) AS n_chars,
          CAST(SUM(fb.nw) AS BIGINT) AS n_words,
          CAST(SUM(p.n_tok_bpe) AS BIGINT) AS n_bpe_tokens,
          CAST(SUM(p.n_tok_bpe) AS DOUBLE) / CAST(SUM(fb.nw) AS DOUBLE)
            AS fertility,
          CAST(SUM(fb.nc) AS DOUBLE) / CAST(SUM(p.n_tok_bpe) AS DOUBLE)
            AS chars_per_token
        FROM fb JOIN bpe p ON p.doc_id = fb.doc_id
        GROUP BY fb.lang ORDER BY fb.lang""")),

    // ---- Trained quality classifier (qt46): closes the quality
    // stack's one "train it, don't import it" gap — qt28 serves a
    // documented STUB weight vector through the hashed-linear
    // inference shape; this row TRAINS the real vector in-engine
    // (8 batch-gradient logistic-regression steps over hashed-BOW
    // features, labels distilling the closed-form Gopher-ish
    // stopword rule) and serves the corpus through the same fold.
    // Each step is one map-side-combinable fixed-point gradient
    // aggregate (exchange width ≤ distinct token buckets) + a
    // dim-bounded driver update (the Ivf/Pq model-fit collect
    // class); at 100 TB the prepared (y, buckets, n) projection is
    // persisted once and each step is a slim scan — K passes is the
    // textbook batch-GD cost, and the K=8 / eta=128 / dim=4096
    // choice is MEASURED: training accuracy 0.928 (sf0.01) / 0.816
    // (sf0.001) from the 0.48 all-zero baseline. The oracle replays
    // all 8 steps as an unrolled materialized-CTE chain and matches
    // bit-for-bit (Elliott sigmoid + power-of-two eta + fixed-point
    // gradients — every op single-IEEE, nothing transcendental).
    // ClassifierSpec pins the margin fold ≡ hashedClassifierScore,
    // so the trained vector is drop-in for qt28's serving shape. ----
    QueryDef("qt46_trained_quality_classifier",
      (s, dir) => {
        val prep = graft.text.Classifier.prepareQuality(
            graft.ops.Partitioning.spread(t(s, dir, "documents")),
            "text", "doc_id")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val w = graft.text.Classifier.trainQuality(prep)
        prep.select(col("doc_id"), col("y").as("label"),
            graft.text.Classifier.margin(col("bs"), col("n"), w)
              .as("score"))
          .withColumn("keep", col("score") > lit(0.0))
          .orderBy(col("doc_id"))
      },
      Some(qt46OracleSql)),

    // ---- Retrain after the drift alarm (qt49): the text-side twin of
    // qs34 → qs35/qs36 — qst19's monitor fires on a drifted ingest
    // window and this row closes ITS dead end: what does retraining
    // the frozen scorer actually buy? Fixture: ingest window
    // doc_id % 4 = 3 arrives from a changed source that floods one
    // feature (every second token a boilerplate 'zq' — n/2 noise
    // tokens appended, the qst19 dressing made feature-effective),
    // which both shifts the feature distribution AND genuinely flips
    // labels (the stopword ratio dilutes: 48/39 window-3 docs flip at
    // sf0.001/sf0.01). The FROZEN qt46 classifier (trained pre-drift)
    // is evaluated against the post-drift truth next to a RETRAINED
    // one (same 8-step GD on the drifted corpus — 3/4 clean, 1/4
    // drifted, the realistic posture). MEASURED per ingest window:
    // the drifted window's accuracy collapses frozen (0.43 at
    // sf0.001 / 0.59 at sf0.01 — below or near a coin flip) and
    // retraining recovers it (0.82 / 0.78) while clean windows hold
    // within ±0.02 — the quantified answer to "the alarm fired, now
    // what". At 100 TB retraining costs what qt46 costs: K slim
    // fixed-point gradient aggregates over the persisted projection +
    // dim-row driver updates; the alarm → retrain loop is closed the
    // same way qs34 → qs35 closed the index side. Oracle = TWO qt46
    // unrolled-GD chains (f_ fit on the pre-drift corpus, r_ on the
    // drifted one — the SAME generator parametrized by the source
    // text expression) + one grouped eval select. ----
    QueryDef("qt49_retrain_on_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val dressed = docs.select(col("doc_id"),
          when(col("doc_id") % 4 === 3,
            concat(col("text"), repeat(lit(" zq"),
              (size(TextOps.tokens(col("text"))) / lit(2)).cast("int"))))
            .otherwise(col("text")).as("text"))
        val prepOld = graft.text.Classifier.prepareQuality(
            graft.ops.Partitioning.spread(docs), "text", "doc_id")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val prepNew = graft.text.Classifier.prepareQuality(
            graft.ops.Partitioning.spread(dressed), "text", "doc_id")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val w0 = graft.text.Classifier.trainQuality(prepOld)
        val w1 = graft.text.Classifier.trainQuality(prepNew)
        // prepOld's last consumer was the w0 fit (eager) — release it
        // now; prepNew stays cached for the returned eval plan, whose
        // single execution the harness's end-of-row clearCache reaps
        prepOld.unpersist()
        prepNew.select((col("doc_id") % 4).as("win"), col("y"),
            (graft.text.Classifier.margin(col("bs"), col("n"), w0)
              > lit(0.0)).as("pf"),
            (graft.text.Classifier.margin(col("bs"), col("n"), w1)
              > lit(0.0)).as("pr"))
          .groupBy(col("win"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("pf") === (col("y") === 1), 1L).otherwise(0L))
              .as("okf"),
            sum(when(col("pr") === (col("y") === 1), 1L).otherwise(0L))
              .as("okr"))
          .select(col("win").cast("int").as("win"),
            col("n").cast("int").as("n_docs"),
            col("okf").cast("int").as("n_frozen_ok"),
            col("okr").cast("int").as("n_retrain_ok"),
            (col("okf").cast("double") / col("n").cast("double"))
              .as("acc_frozen"),
            (col("okr").cast("double") / col("n").cast("double"))
              .as("acc_retrain"))
          .orderBy(col("win"))
      },
      Some {
        s"""WITH ${qt46CtesSql("f_")},
        ${qt46CtesSql("r_", qt49DressedSql)},
        ev AS (SELECT d.doc_id % 4 AS win, d.y,
            (list_reduce(list_transform(d.bs, b -> f_a8.wa[b + 1]), (x, z) -> x + z) / d.n > 0.0) AS pf,
            (list_reduce(list_transform(d.bs, b -> r_a8.wa[b + 1]), (x, z) -> x + z) / d.n > 0.0) AS pr
          FROM r_dl d, f_a8, r_a8)
        SELECT CAST(win AS INT) AS win, CAST(COUNT(*) AS INT) AS n_docs,
          CAST(SUM(CASE WHEN pf = (y = 1) THEN 1 ELSE 0 END) AS INT) AS n_frozen_ok,
          CAST(SUM(CASE WHEN pr = (y = 1) THEN 1 ELSE 0 END) AS INT) AS n_retrain_ok,
          CAST(SUM(CASE WHEN pf = (y = 1) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS acc_frozen,
          CAST(SUM(CASE WHEN pr = (y = 1) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS acc_retrain
        FROM ev GROUP BY win ORDER BY win"""
      }),

    // ---- DSIR importance resampling (qt47): the published sampling
    // layer between quality filtering and mixture targeting (Xie et
    // al. 2023, arXiv:2302.03169) — qt22/qt34 decide how much of
    // each SLICE to take, DSIR decides WHICH raw documents look most
    // like the target. Target slice = the stopword-rule positives
    // (qt46's label), features = salted hashed bigrams, per-doc
    // importance = fixed-point MEAN of add-one-smoothed target/raw
    // bucket ratios (the log-sum form is barred by the measured
    // libm doctrine; the ratio mean is its monotone surrogate), and
    // the resampling draw is a deterministic salted doc-id hash
    // against the min-max-normalized weight — reproducible under any
    // partitioning, which an RNG-stream draw is not. Plan shape: ONE
    // exploded count aggregate fits both distributions (map-side
    // combine, width ≤ dim), the ratio LUT rides the plan as a
    // dim-sized literal (the Ivf centroidsLit class) so scoring is a
    // pure codegen expression on the corpus scan, and the min/max
    // normalizer is a 1-row broadcast attach — no corpus shuffle
    // anywhere. Genuinely resamples at both SFs: keep-rate 0.60 on
    // target-like docs vs 0.33-0.36 on the rest (~48% kept). ----
    QueryDef("qt47_dsir_resample",
      (s, dir) => {
        val prep = graft.ops.Partitioning.spread(t(s, dir, "documents"))
          .select(col("doc_id"),
            TextOps.bindOnce(TextOps.tokens(col("text")))(toks =>
              graft.text.Classifier.stopwordLabel(toks)).as("is_target"),
            graft.text.Dsir.bigramBuckets(col("text")).as("bs"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val lut = graft.text.Dsir.fitRatioLut(prep, "is_target")
        val wts = prep.select(col("doc_id"), col("is_target"),
            size(col("bs")).cast("int").as("n_grams"),
            graft.text.Dsir.importanceWeight(col("bs"), lut).as("weight"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val mm = wts.agg(max(col("weight")).as("mw"),
          min(col("weight")).as("mn"))
        wts.crossJoin(broadcast(mm))
          .select(col("doc_id"), col("is_target"), col("n_grams"),
            col("weight"),
            graft.text.Dsir.keepByWeight(col("doc_id"), col("weight"),
              col("mn"), col("mw")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(qt47OracleSql)),

    // ---- Streamed LM quality scoring (qst17): qt43 at the crawl
    // edge — documents ARRIVE as a stream and are scored against a
    // FROZEN Stupid Backoff model (trained in batch on the target
    // slice, collected once — the Ivf/Pq model-fit collect class —
    // and broadcast as the KB-sized LUT the ADC rows established).
    // Scoring is completely STATELESS: a typed map riding the
    // stream, no shuffle, no state store, no watermark — the serving
    // shape for ingest-time quality gating. NgramLm.scoreLocal
    // carries the mirror contract (same norm order, same backoff
    // ladder, same left-associated 0.4 products, same fixed-point
    // accumulate), and the oracle IS qt43's chain VERBATIM, so
    // stream ≡ batch is pinned on the score itself. ----
    QueryDef("qst17_stream_lm_score",
      (s, dir) => {
        import s.implicits._
        val bc = s.sparkContext.broadcast(graft.text.NgramLm.trainLocal(
          lmDocs(s, dir, col("doc_id") % 5 === 0)
            .select(col("lang"), graft.text.TextOps.norm(col("text2")))
            .as[(String, String)].rdd))
        val streamed = replayTable(s, dir, "documents")
          .select(col("doc_id"), col("lang"), zqText2.as("text2"))
          .as[(Long, String, String)]
          .flatMap { case (id, lang, text2) =>
            graft.text.NgramLm.scoreLocal(text2, lang, bc.value)
              .map { case (nTok, sc) => (id, lang, nTok, sc) }
          }
          .toDF("doc_id", "lang", "n_tok", "lm_score")
        runAvailableNow(s, streamed).orderBy(col("doc_id"))
      },
      Some(s"WITH $ngramLmCteSql\n" +
        "SELECT doc_id, lang, n_tok, lm_score FROM scs ORDER BY doc_id")),

    // ---- Streamed DSIR resampling (qst18): qt47 at the crawl edge —
    // documents ARRIVE as a stream and are verdicted against a FROZEN
    // importance model (ratio LUT + min/max normalizers, fit in batch
    // on the stored corpus — the model-fit collect class — and
    // broadcast). Completely STATELESS, the qst17 shape: a typed map
    // riding the stream, no shuffle, no state store, no watermark —
    // ingest-time "does this crawl page look like the target?"
    // gating. Dsir.scoreLocal carries the mirror contract (shared
    // normLocal, scalar twin of the hash kernel, same fixed-point
    // accumulate and draw), so the oracle is qt47's SQL verbatim —
    // the strongest streaming≡batch pin available. ----
    QueryDef("qst18_stream_dsir",
      (s, dir) => {
        import s.implicits._
        val prep = graft.ops.Partitioning.spread(t(s, dir, "documents"))
          .select(col("doc_id"),
            TextOps.bindOnce(TextOps.tokens(col("text")))(toks =>
              graft.text.Classifier.stopwordLabel(toks)).as("is_target"),
            graft.text.Dsir.bigramBuckets(col("text")).as("bs"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val lut = graft.text.Dsir.fitRatioLut(prep, "is_target")
        val mm = prep.select(
            graft.text.Dsir.importanceWeight(col("bs"), lut).as("w"))
          .agg(max(col("w")), min(col("w"))).head()
        val (mx, mn) = (mm.getDouble(0), mm.getDouble(1))
        val bcLut = s.sparkContext.broadcast(lut)
        val streamed = replayTable(s, dir, "documents")
          .select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .map { case (id, text) =>
            val (isT, nG, w, keep) =
              graft.text.Dsir.scoreLocal(id, text, bcLut.value, mn, mx)
            (id, isT, nG, w, keep)
          }
          .toDF("doc_id", "is_target", "n_grams", "weight", "keep")
        // the memory sink already localized the result — the fit cache
        // has no consumer left, so release it here (the DocLake
        // unpersist discipline) instead of leaning on the harness's
        // end-of-row clearCache
        val local = runAvailableNow(s, streamed)
        prep.unpersist()
        local.orderBy(col("doc_id"))
      },
      Some(qt47OracleSql)),

    // ---- Streamed DSIR with a SAMPLE-frozen model (qst21): the form
    // a true crawl edge runs. qst18 still needed FULL-corpus
    // aggregates at fit time (LUT counts and the min/max normalizer
    // over every stored document); this arm freezes the ENTIRE model
    // — ratio LUT and (mn, mx) — from a deterministic id-sample
    // (doc_id % 5 = 0, the CCNet tertile-sample device NgramLm
    // .tertileGate established), so nothing in the path ever
    // aggregates the corpus: fit cost is sample-sized, and the edge
    // verdicts arrivals with KB-sized broadcast state only. The
    // crawl-edge consequence is part of the contract: an arriving
    // document CAN score outside the frozen [mn, mx] — the draw
    // u < (w−mn)/(mx−mn) then degenerates to always-keep (ratio > 1)
    // or never-keep (< 0), deterministically in both engines (plain
    // IEEE compares, no clamp needed for a boolean verdict) — and the
    // fixture genuinely reaches it (one out-of-range arrival at
    // sf0.001). MEASURED: the sample-frozen model still resamples
    // toward the target (keep 0.69 vs 0.55 at sf0.001, 0.54 vs 0.45
    // at sf0.01) — weaker separation than qt47's full fit (0.60 vs
    // 0.33-0.36), the honest price of fitting on a 1/5 sample. Oracle =
    // qt47's generator with the fit CTEs predicate-restricted to the
    // sample — the same SQL text at fitPred=TRUE is qt47/qst18's
    // oracle, so the two arms are pinned to one spec. ----
    QueryDef("qst21_stream_dsir_frozen",
      (s, dir) => {
        import s.implicits._
        val prep = graft.ops.Partitioning.spread(t(s, dir, "documents"))
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"),
            TextOps.bindOnce(TextOps.tokens(col("text")))(toks =>
              graft.text.Classifier.stopwordLabel(toks)).as("is_target"),
            graft.text.Dsir.bigramBuckets(col("text")).as("bs"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val lut = graft.text.Dsir.fitRatioLut(prep, "is_target")
        val mm = prep.select(
            graft.text.Dsir.importanceWeight(col("bs"), lut).as("w"))
          .agg(max(col("w")), min(col("w"))).head()
        val (mx, mn) = (mm.getDouble(0), mm.getDouble(1))
        val bcLut = s.sparkContext.broadcast(lut)
        val streamed = replayTable(s, dir, "documents")
          .select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .map { case (id, text) =>
            val (isT, nG, w, keep) =
              graft.text.Dsir.scoreLocal(id, text, bcLut.value, mn, mx)
            (id, isT, nG, w, keep)
          }
          .toDF("doc_id", "is_target", "n_grams", "weight", "keep")
        // memory sink localized the result; the sample-fit cache is
        // dead — release it here rather than at the harness boundary
        val local = runAvailableNow(s, streamed)
        prep.unpersist()
        local.orderBy(col("doc_id"))
      },
      Some(s"""WITH ${qt47CtesSql("", "doc_id % 5 = 0")}
      ${qt47SelectSql("")}""")),

    // ---- The retrained-model SWAP at the edge (qst24): the cutover
    // qst19 + qt49 leave implied — the alarm fires mid-stream (qst19,
    // on ingest window 3's source change) and retraining recovers
    // accuracy (qt49) — but nothing demonstrated the SERVING handoff:
    // a scoring stream that serves the frozen pre-drift classifier w0
    // until the drift-alarm window and the retrained w1 from it on
    // (the qs35 refit-cutover pattern applied to qt49's weights, the
    // two-phase replay a real edge performs after an alarm → retrain
    // → redeploy cycle). Everything on the stream is STATELESS but
    // the one windowed per-ingest-window accuracy aggregate (the
    // qst19 histogram class — state = windows × 2 longs): arrivals
    // carry the qt49 drift dressing, features/labels ride
    // prepareQuality's byte-identical expressions, both margins are
    // plan-literal folds, and the swap itself is one per-row window
    // predicate — at 100 TB the cutover costs nothing beyond the
    // qt49 retrain already priced. MEASURED (the qt49 numbers, now
    // served): windows 0-2 hold the frozen model's clean accuracy,
    // window 3 serves w1 at the retrained 0.82/0.78 instead of
    // collapsing to 0.43/0.59. Oracle = qt49's TWO existing
    // unrolled-GD chains (f_ pre-drift, r_ drifted — the SAME
    // generators) with the eval CASE selecting per window. ----
    QueryDef("qst24_stream_model_swap",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val dressed = docs.select(col("doc_id"),
          when(col("doc_id") % 4 === 3,
            concat(col("text"), repeat(lit(" zq"),
              (size(TextOps.tokens(col("text"))) / lit(2)).cast("int"))))
            .otherwise(col("text")).as("text"))
        // the two frozen artifacts of the alarm → retrain cycle
        // (qt49's fits verbatim; caches released after the eager GD)
        val w0 = inFitGroup("qst24-w0")(trainQualityOn(docs))
        val w1 = inFitGroup("qst24-w1")(trainQualityOn(dressed))
        import s.implicits._
        val sent = Seq(-1L).toDF("doc_id")
          .select(col("doc_id"), lit("").as("text"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "doc_id LONG, text STRING, ts TIMESTAMP") { sentArm =>
          // 2024-01-01 00:00:00 UTC; ingest hour = doc_id % 4 (the
          // qst19 window device), window-3 arrivals from the changed
          // source (the qt49 dressing)
          val base = 1704067200000000L
          val arr = replayTable(s, dir, "documents")
            .select(col("doc_id"),
              when(col("doc_id") % 4 === 3,
                concat(col("text"), repeat(lit(" zq"),
                  (size(TextOps.tokens(col("text"))) / lit(2))
                    .cast("int"))))
                .otherwise(col("text")).as("text"),
              timestamp_micros(lit(base) +
                (col("doc_id") % 4) * lit(3600000000L)).as("ts"))
            .unionByName(sentArm)
          val served = graft.text.Classifier.prepareQuality(
              arr, "text", "doc_id", carry = Seq("ts"))
            .withColumn("ps",
              when(col("doc_id") % 4 < 3,
                graft.text.Classifier.margin(col("bs"), col("n"), w0))
                .otherwise(
                  graft.text.Classifier.margin(col("bs"), col("n"), w1))
                > lit(0.0))
          val flushed = served
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n"),
              sum(when(col("ps") === (col("y") === 1), 1L).otherwise(0L))
                .as("ok"))
          runAvailableNow(s, flushed)
            .filter(year(col("window.start")) === 2024)
            .select(hour(col("window.start")).cast("int").as("win"),
              when(hour(col("window.start")) < 3, lit("frozen"))
                .otherwise(lit("retrained")).as("model"),
              col("n").cast("int").as("n_docs"),
              col("ok").cast("int").as("n_ok"),
              (col("ok").cast("double") / col("n").cast("double"))
                .as("acc_served"))
            .orderBy(col("win"))
        }
      },
      Some {
        s"""WITH ${qt46CtesSql("f_")},
        ${qt46CtesSql("r_", qt49DressedSql)},
        ev AS (SELECT d.doc_id % 4 AS win, d.y,
            CASE WHEN d.doc_id % 4 < 3
              THEN (list_reduce(list_transform(d.bs, b -> f_a8.wa[b + 1]), (x, z) -> x + z) / d.n > 0.0)
              ELSE (list_reduce(list_transform(d.bs, b -> r_a8.wa[b + 1]), (x, z) -> x + z) / d.n > 0.0)
            END AS ps
          FROM r_dl d, f_a8, r_a8)
        SELECT CAST(win AS INT) AS win,
          CASE WHEN win < 3 THEN 'frozen' ELSE 'retrained' END AS model,
          CAST(COUNT(*) AS INT) AS n_docs,
          CAST(SUM(CASE WHEN ps = (y = 1) THEN 1 ELSE 0 END) AS INT) AS n_ok,
          CAST(SUM(CASE WHEN ps = (y = 1) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS acc_served
        FROM ev GROUP BY win ORDER BY win"""
      }),

    // ---- Streamed quality-drift monitor (qst19): the pipeline-OPS
    // row every frozen scorer needs — once qt46/qt28-class weights are
    // deployed at the ingest edge, the thing that silently breaks is
    // the INPUT distribution (a crawl source changes, an upstream
    // filter regresses), and score drift is the standard first alarm.
    // Documents arrive in hourly ingest windows (window = doc_id % 4;
    // window 3 carries a deterministic source change — the lmDocs
    // zq-dressing device); each doc is scored by the FROZEN
    // hashed-linear scorer (stateless, riding the stream), scores land
    // in 8 fixed-edge bins, ONE windowed streaming aggregate pivots
    // the histogram (state = windows × 9 longs — KB-sized at any
    // corpus rate), and each flushed window's histogram is compared
    // against the frozen DEPLOYMENT-TIME reference (an 8-double
    // literal, the model-fit collect class) by triangular
    // discrimination Σ (p−q)²/(p+q) — the rational member of the
    // f-divergence family (KL/PSI need log, barred by the measured
    // libm doctrine), written as an explicit left-associated 8-term
    // sum so the fold order is part of the contract. Genuinely trips
    // both ways at both SFs: clean windows D ≤ 0.031, the drifted
    // window D ≈ 0.69/0.78 — alert = D > 0.1 fires on exactly one of
    // four windows. ----
    QueryDef("qst19_stream_quality_drift",
      (s, dir) => {
        import s.implicits._
        def binOf(score: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column =
          least(greatest(floor((score + lit(0.25)) / lit(0.0625))
            .cast("int"), lit(0)), lit(7))
        val stub = TextOps.stubQualityWeights()
        // frozen deployment-time reference histogram (8 longs)
        val refRows = t(s, dir, "documents")
          .select(binOf(TextOps.hashedClassifierScore(col("text"), stub))
            .as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as("c")).collect()
        val nRef = refRows.map(_.getLong(1)).sum
        val qRef = Array.tabulate(8)(k =>
          refRows.find(_.getInt(0) == k).map(_.getLong(1)).getOrElse(0L)
            .toDouble / nRef.toDouble)
        val sent = Seq(-1L).toDF("doc_id")
          .select(col("doc_id"), lit("").as("text"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "doc_id LONG, text STRING, ts TIMESTAMP") { sentArm =>
          // 2024-01-01 00:00:00 UTC in epoch-µs; ingest hour = id % 4
          val base = 1704067200000000L
          val arr = replayTable(s, dir, "documents")
            .select(col("doc_id"),
              concat(col("text"), when(col("doc_id") % 4 === 3,
                lit(" zq zq zq zq zq zq zq zq")).otherwise(lit("")))
                .as("text"),
              timestamp_micros(lit(base) +
                (col("doc_id") % 4) * lit(3600000000L)).as("ts"))
            .unionByName(sentArm)
          val counts = arr.withWatermark("ts", "1 hour")
            .select(col("ts"),
              binOf(TextOps.hashedClassifierScore(col("text"), stub))
                .as("bin"))
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n"), (0 until 8).map(k =>
              sum(when(col("bin") === k, 1L).otherwise(0L))
                .as(s"c$k")): _*)
          val flushed = runAvailableNow(s, counts)
            .filter(year(col("window.start")) === 2024)
          val drift = graft.ops.Drift.triangular(
            (0 until 8).map(k => col(s"c$k")), col("n"), qRef)
          flushed.select(
              hour(col("window.start")).cast("int").as("window_id"),
              col("n").cast("int").as("n_docs"), drift.as("drift"),
              (drift > lit(0.1)).as("alert"))
            .orderBy(col("window_id"))
        }
      },
      Some(qst19OracleSql)),

    // ---- Streamed mixture admission gate (qst20): qt48 at the crawl
    // edge — the ingest-time "does this page fit the recipe?" verdict
    // every mixture-targeted corpus build runs at admission rather
    // than in a batch sweep. The α = 1/2 temperature target table is
    // fit ONCE in batch on the stored corpus (Mixture
    // .temperatureTargets — the |strata|-row model-fit collect class)
    // and FROZEN; arriving documents verdict against it via a
    // stream-static broadcast equi-join + the salted-hash keep —
    // completely STATELESS (no state store, no watermark), and both
    // halves of the verdict are Mixture.attachTargets, the SAME
    // column expressions the batch row runs, so the oracle is qt48's
    // SQL VERBATIM — the strongest streaming≡batch pin available. ----
    QueryDef("qst20_stream_mixture_gate",
      (s, dir) => {
        val targets = graft.text.Mixture.temperatureTargets(
          t(s, dir, "documents"), "lang")
        val streamed = graft.text.Mixture.attachTargets(
          replayTable(s, dir, "documents"), "doc_id", "lang", targets)
        runAvailableNow(s, streamed).orderBy(col("doc_id"))
      },
      Some(qt48OracleSql)),

    // ---- The crawl-edge ADMISSION PIPELINE (qst23): the capstone an
    // ingest cluster actually deploys — ONE document stream through
    // the COMPOSED frozen-model admission gates, per-stage flags
    // visible so the edge can report WHY a page was refused. Stages,
    // in pipeline order: (1) exact-dedup COLLAPSE — the only stateful
    // stage (the qst11 device: one windowed aggregate per (window,
    // content_hash), canonical = MIN(doc_id) so the survivor is
    // deterministic under any arrival order, state = one (id, count)
    // row per distinct fingerprint in flight); then, on each flushed
    // canonical, the five STATELESS frozen gates: (2) decontamination
    // — the eval benchmark's distinct 8-gram hashes collected once
    // (benchmark-sized, the qt15 Bloom-bits budget class) and probed
    // locally by the SAME WordNgramHashes.compute kernel the batch
    // rows codegen; (3) CCNet LM quality — qst17's frozen model + the
    // NEW frozen artifact a real edge also ships, the per-lang tertile
    // thresholds (tertileThresholds' order statistics), keep =
    // score > t1 with unscorable/unsampled defaulting to false (the
    // tertileGate contract); (4) trained-classifier margin — qt49's
    // frozen w through Classifier.marginLocal, the scalar twin of
    // prepareQuality + margin; (5) DSIR — qst21's SAMPLE-frozen ratio
    // LUT + (mn, mx) normalizer through Dsir.scoreLocal, qst21's own
    // stream-edge scorer; (6) temperature mixture — qst20's frozen
    // target table broadcast-attached, the same Mixture.keepExpr draw.
    // Gates 2-5 run in ONE typed per-doc map over broadcast artifacts
    // (the Structured Streaming split: fit in batch, apply with a
    // stateless per-record operator), so the stream plan carries no
    // higher-order function and no artifact literal — a refreshed
    // artifact does not change the plan. admit = all five gates on
    // the collapse survivor. Scale shape: the stream pays ONE shuffle
    // (the dedup collapse, keyed by fingerprint) + two stream-static
    // equi-joins against the doc lake row + broadcast attaches; every
    // model artifact is KB-sized driver state fit ONCE in batch, from
    // one shared per-doc feature pass. Arrivals replay the stored
    // corpus, so frozen-fit ≡ batch-fit and the oracle is the PROVEN
    // CTE families chained verbatim: the qx14 lm/clf/tmx arms, qt47's
    // chain under qst21's sample-frozen predicate, qd1's MIN-canonical
    // group, and qt9's gram-join decontamination opened to every
    // arriving doc. ----
    QueryDef("qst23_stream_admission",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        // ---- frozen fits, all on the stored corpus ----
        // Every artifact is a fold over ONE shared per-doc feature
        // pass (AdmissionFit): one projection computes each fit's
        // per-doc inputs with the batch rows' column expressions, and
        // the folds run in sequence on this thread under one fit job
        // group. A real edge refreshes its frozen artifacts the same
        // way. (2) decon: the benchmark gram set (eval split), distinct
        // 60-bit hashes — bounded by the benchmark's reach, never the
        // corpus (the qst8/qt15 budget argument), carried as a SORTED
        // primitive array probed by binary search — 8 B/gram per
        // executor instead of a boxed Set's ~48 B/gram. (3) LM: the
        // model trained on the doc_id % 5 slice plus the per-lang
        // tertile thresholds of the doc_id % 3 score sample. (4) the
        // classifier weights. (5) DSIR: the qst21 sample-frozen LUT
        // (doc_id % 5) and its (mn, mx) normalizer. (6) the frozen
        // α = 1/2 mixture target table.
        val fit = inFitGroup("qst23")(
          graft.text.AdmissionFit.fit(docs, zqText2))
        val bcEval = s.sparkContext.broadcast(fit.evalGrams)
        val bcModel = s.sparkContext.broadcast(fit.lm)
        val bcTh = s.sparkContext.broadcast(fit.lmThresholds)
        val bcGates = s.sparkContext.broadcast((fit.w, fit.lut, fit.mn, fit.mx))
        val tDf = fit.targets.toDF("__tmix_g", "grp_n", "share", "target_n")
        // ---- the stream ----
        val sent = Seq(-1L).toDF("doc_id")
          .select(col("doc_id"), lit("").as("text"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "doc_id LONG, text STRING, ts TIMESTAMP") { sentArm =>
          // The corpus has zero exact-duplicate texts (500 distinct
          // fingerprints at every gate SF), so the collapse would be
          // a measured no-op on a plain replay — plant the condition
          // it exists for: every doc_id % 7 = 3 page is RE-DELIVERED
          // as a recrawl under a fresh id (id + 10000, text
          // identical), the duplicate-arrival shape a crawl edge
          // actually sees. The copy's fingerprint collapses onto the
          // original, canonical = MIN(doc_id) = the original id, and
          // n_copies = 2 for ~1/7 of survivors — the arm genuinely
          // trips at both SFs. The recrawl is synthesized INSIDE one
          // pass (a 1→2 typed flatMap), not by self-unioning the
          // source, so each micro-batch scans the parquet once.
          val arr = replayTable(s, dir, "documents")
            .select(col("doc_id"), col("text"))
            .as[(Long, String)]
            .flatMap { case (id, text) =>
              if (id % 7 == 3) Seq((id, text), (id + 10000L, text))
              else Seq((id, text))
            }
            .toDF("doc_id", "text")
            .select(col("doc_id"), col("text"),
              lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
            .unionByName(sentArm)
          // stage 1: the collapse — the empty-text sentinel's group
          // sits in the 2100 window and never flushes
          val collapsed = arr
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"),
              TextOps.fingerprintMd5(col("text")).as("content_hash"))
            .agg(min(col("doc_id")).as("doc_id"),
              count(lit(1)).as("n_copies"))
            .select(col("doc_id"), col("n_copies"))
          // join-back: the canonical rep's stored row (text, lang) —
          // a stream-static equi-join, stateless per micro-batch
          // — spread, so the per-doc gates below run on every core
          // instead of the one task of a single-split scan
          val enriched = collapsed
            .join(graft.ops.Partitioning.spread(
                docs.select(col("doc_id"), col("text"), col("lang"))),
              Seq("doc_id"))
            .select(col("doc_id"), col("n_copies"), col("lang"),
              col("text"), zqText2.as("text2"))
          // stages 2-5: one typed map against the broadcast gram set,
          // frozen LM, threshold table and classifier/DSIR artifacts —
          // local kernels ARE the batch kernels
          // (WordNgramHashes.compute is the codegen entry point;
          // NgramLm.scoreLocal, Classifier.marginLocal and
          // Dsir.scoreLocal carry the mirror contracts
          // MirrorPropertySpec pins)
          val gated = enriched
            .as[(Long, Long, String, String, String)]
            .map { case (id, nCopies, lang, text, text2) =>
              val grams = graft.functions.WordNgramHashes.compute(
                org.apache.spark.unsafe.types.UTF8String.fromString(text),
                8).toLongArray()
              val deconKeep = !grams.exists(g =>
                java.util.Arrays.binarySearch(bcEval.value, g) >= 0)
              val lmKeep = graft.text.NgramLm
                .scoreLocal(text2, lang, bcModel.value)
                .exists { case (_, sc) =>
                  bcTh.value.get(lang).exists(th => sc > th._1) }
              val (w, lut, mn, mx) = bcGates.value
              val clfKeep = graft.text.Classifier.marginLocal(text, w) > 0.0
              val dsirKeep = graft.text.Dsir.scoreLocal(id, text, lut, mn, mx)._4
              (id, nCopies, lang, deconKeep, lmKeep, clfKeep, dsirKeep)
            }
            .toDF("doc_id", "n_copies", "lang",
              "decon_keep", "lm_keep", "clf_keep", "dsir_keep")
          // stage 6: one broadcast attach
          val verdicts = gated
            .join(broadcast(tDf),
              col("lang").cast("string") === col("__tmix_g"))
            .withColumn("mix_keep", graft.text.Mixture.keepExpr(
              col("doc_id"), col("grp_n"), col("target_n")))
            .select(col("doc_id"),
              col("n_copies").cast("int").as("n_copies"),
              col("decon_keep"), col("lm_keep"), col("clf_keep"),
              col("dsir_keep"), col("mix_keep"),
              (col("decon_keep") && col("lm_keep") && col("clf_keep") &&
                col("dsir_keep") && col("mix_keep")).as("admit"))
          runAvailableNow(s, verdicts)
            .filter(col("doc_id") >= 0).orderBy(col("doc_id"))
        }
      },
      Some(s"""WITH $lmQualityCtes,
        ${qt46CtesSql("qc_")},
        ${qt47CtesSql("ds_", "doc_id % 5 = 0")},
        ${qt48CtesSql("tm_")},
        ded AS (SELECT doc_id, md5($normSql) AS content_hash FROM documents
          UNION ALL
          SELECT doc_id + 10000, md5($normSql) FROM documents
          WHERE doc_id % 7 = 3),
        canon AS (SELECT content_hash, MIN(doc_id) AS doc_id,
            COUNT(*) AS n_copies
          FROM ded GROUP BY content_hash),
        dx AS (SELECT doc_id, string_split($normSql, ' ') AS toks
          FROM documents),
        g8x AS (SELECT doc_id,
            unnest(list_distinct(list_transform(generate_series(1, len(toks) - 7),
              i -> ('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT))) AS g
          FROM dx WHERE len(toks) >= 8),
        egx AS (SELECT DISTINCT g FROM g8x
          WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 >= 90),
        hitx AS (SELECT DISTINCT t.doc_id FROM g8x t JOIN egx ON egx.g = t.g),
        $verdictArmCtes
        SELECT c.doc_id, CAST(c.n_copies AS INT) AS n_copies,
          (hitx.doc_id IS NULL) AS decon_keep,
          COALESCE(qual.quality_keep, FALSE) AS lm_keep,
          clf.clf_keep, dsr.dsir_keep, tmx.mix_keep,
          ((hitx.doc_id IS NULL) AND COALESCE(qual.quality_keep, FALSE)
            AND clf.clf_keep AND dsr.dsir_keep AND tmx.mix_keep) AS admit
        FROM canon c
        LEFT JOIN hitx ON hitx.doc_id = c.doc_id
        LEFT JOIN qual ON qual.doc_id = c.doc_id
        JOIN clf ON clf.doc_id = c.doc_id
        JOIN dsr ON dsr.doc_id = c.doc_id
        JOIN tmx ON tmx.doc_id = c.doc_id
        ORDER BY c.doc_id""")),

    // ---- DOCUMENT-lake incremental maintenance (ql7): qt31 produces
    // per-batch verdicts; this row FOLDS them into the stored corpus —
    // the ql3/ql6 dynamic-overwrite discipline applied to the document
    // lake. A canonical-URL-keyed lake (hive-partitioned by lang) is
    // built from the corpus slice's canonical reps; the batch slice
    // arrives; recrawled keys REFRESH their lake row in place
    // (last_fetch_id updates, identity + partition residence stay),
    // new keys APPEND. Only partitions holding refreshed keys are
    // rewritten (affected discovery = pruned (key, lang) scan x
    // broadcast batch keys); the row require()s both arms genuinely
    // trip AND that the incrementally-maintained lake is row-identical
    // to a from-scratch rebuild under the same policy — maintenance
    // changes file layout and fetch metadata, never corpus content.
    // Oracle: the rebuild policy closed-form. ----
    QueryDef("ql7_doc_lake_maintenance",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("ql7_doclake")
        val lake = s"$tmp/docs"
        try {
          val lang = t(s, dir, "documents").select(col("doc_id"), col("lang"))
          // SF-proportional collision classes: a FIXED modulus cannot
          // trip both arms at every scale (at 10x the docs every batch
          // class gains a corpus member and appends vanish) — n*18/25
          // keeps the qt31-calibrated ~1.4 docs/class ratio (exactly
          // 360 at the 500-doc SFs, 3600 at sf0.1; every
          // canonicalization-relevant arm divides both)
          val pathMod = (lang.count() * 18 / 25).toInt
          val canon = urlsFromDocs(s, dir, pathMod = pathMod)
            .withColumn("part",
              TextOps.hashSplit(col("doc_id"), Seq(90), Seq("corpus", "batch")))
            .join(lang, "doc_id")
            .select(col("doc_id"), col("part"), col("lang"),
              graft.text.Urls.canonicalizeUrl(col("url")).as("canonical_url"))
            // multiple consumers (rep aggregates per slice; qst16 adds
            // the per-day arrival writes) — persist or the URL-fixture
            // + canonicalize chain re-derives per consumer (the
            // qd7/qx4 class)
            .persist(StorageLevel.MEMORY_AND_DISK)
          // one partial-aggregable pass per slice: min_by recovers the
          // rep's lang without a join-back (doc_id is unique, so the
          // min_by tiebreak is moot)
          def reps(df: DataFrame): DataFrame =
            df.groupBy(col("canonical_url"))
              .agg(min(col("doc_id")).as("doc_id"),
                min_by(col("lang"), col("doc_id")).as("lang"))
              .select(col("canonical_url"), col("doc_id"), col("lang"),
                col("doc_id").as("last_fetch_id"))
          val corpusReps = reps(canon.filter(col("part") === "corpus"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          val batchReps = reps(canon.filter(col("part") === "batch"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          corpusReps.repartition(col("lang"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy("lang").parquet(lake)
          val (nRef, nNew) = graft.lake.DocLake.refreshAndAppend(
            s, lake, batchReps, "canonical_url", "lang",
            updateCols = Seq("last_fetch_id"))
          require(nRef > 0 && nNew > 0,
            s"fixture must trip both arms, got refresh=$nRef append=$nNew")
          def finalShape(df: DataFrame): DataFrame = df
            .select(col("canonical_url"), col("doc_id"), col("lang"),
              col("last_fetch_id"),
              (col("last_fetch_id") =!= col("doc_id")).as("refreshed"))
            .orderBy(col("canonical_url"))
          val stored = finalShape(s.read.parquet(lake)).collect()
          // rebuilt-from-scratch under the same policy must be
          // row-identical to the incrementally maintained lake
          val rebuilt = finalShape(corpusReps
            .join(batchReps.select(col("canonical_url"),
              col("doc_id").as("__b_id")), Seq("canonical_url"), "left")
            .select(col("canonical_url"), col("doc_id"), col("lang"),
              coalesce(col("__b_id"), col("doc_id")).as("last_fetch_id"))
            .unionByName(batchReps.join(
              corpusReps.select(col("canonical_url")),
              Seq("canonical_url"), "left_anti"))).collect()
          require(stored.toSeq == rebuilt.toSeq,
            "incremental maintenance must equal the from-scratch rebuild")
          corpusReps.unpersist()
          batchReps.unpersist()
          import scala.jdk.CollectionConverters._
          import org.apache.spark.sql.types._
          val schema = StructType(Seq(
            StructField("canonical_url", StringType),
            StructField("doc_id", LongType),
            StructField("lang", StringType),
            StructField("last_fetch_id", LongType),
            StructField("refreshed", BooleanType)))
          s.createDataFrame(stored.toSeq.asJava, schema)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      },
      Some(docLakeMaintOracleSql)),

    // ---- Split-leakage audit (qt36): the measurement that justifies
    // DOMAIN-keyed eval splits. A doc-hash split strands pages of one
    // site on both sides of the train/eval fence (an eval page's
    // sibling articles leak into train); a domain-hash split cannot,
    // by construction. This row quantifies both policies in ONE
    // corpus pass: a per-domain partial aggregate computes each
    // mode's has-train/has-eval flags and doc tallies (the doc-hash
    // flags genuinely aggregate; the domain-hash flags are constant
    // per group so MAX is exact), explodes to one row per (domain,
    // mode) — 2x domain cardinality, tiny — and a second fold over
    // split_mode emits the audit. At 100 TB: one exchange on
    // (domain), then kilobytes. Leaky-domain count under doc_hash vs
    // ZERO under domain_hash is the number the split policy is
    // chosen from — the qt29/qd13 measure-before-deciding discipline
    // applied to eval design. ----
    QueryDef("qt36_split_leakage_audit",
      (s, dir) => {
        val dom = graft.text.Urls.registrableDomainsPsl(
            urlsFromDocs(s, dir), "url", "domain")
          .select(col("doc_id"), col("domain"),
            (TextOps.hash60(col("doc_id").cast("string")) % 100 < 90)
              .as("doc_train"),
            (TextOps.hash60(col("domain")) % 100 < 90).as("dom_train"))
        val perDom = dom.groupBy(col("domain")).agg(
          max(when(col("doc_train"), 1).otherwise(0)).as("doc_ht"),
          max(when(col("doc_train"), 0).otherwise(1)).as("doc_he"),
          sum(when(col("doc_train"), 1L).otherwise(0L)).as("doc_nt"),
          sum(when(col("doc_train"), 0L).otherwise(1L)).as("doc_ne"),
          max(when(col("dom_train"), 1).otherwise(0)).as("dom_ht"),
          max(when(col("dom_train"), 0).otherwise(1)).as("dom_he"),
          sum(when(col("dom_train"), 1L).otherwise(0L)).as("dom_nt"),
          sum(when(col("dom_train"), 0L).otherwise(1L)).as("dom_ne"))
        perDom.select(explode(array(
            struct(lit("doc_hash").as("split_mode"), col("doc_ht").as("ht"),
              col("doc_he").as("he"), col("doc_nt").as("nt"),
              col("doc_ne").as("ne")),
            struct(lit("domain_hash").as("split_mode"), col("dom_ht").as("ht"),
              col("dom_he").as("he"), col("dom_nt").as("nt"),
              col("dom_ne").as("ne")))).as("m"))
          .select(col("m.*"))
          .groupBy(col("split_mode"))
          .agg(count(lit(1)).cast("int").as("n_domains"),
            sum(when(col("ht") === 1 && col("he") === 1, 1).otherwise(0))
              .cast("int").as("n_leaky_domains"),
            sum(when(col("ht") === 1 && col("he") === 0, 1).otherwise(0))
              .cast("int").as("n_train_only"),
            sum(when(col("ht") === 0 && col("he") === 1, 1).otherwise(0))
              .cast("int").as("n_eval_only"),
            sum(col("nt")).cast("int").as("n_train_docs"),
            sum(col("ne")).cast("int").as("n_eval_docs"))
          .orderBy(col("split_mode"))
      },
      Some(s"""WITH u AS (${urlFixtureSql()}),$urlDomainCtes,
        sp AS (SELECT doc_id, domain,
            (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90) AS doc_train,
            (('0x' || substr(md5(domain), 1, 15))::BIGINT % 100 < 90) AS dom_train
          FROM dom),
        modes AS (
          SELECT 'doc_hash' AS split_mode, domain,
              MAX(CASE WHEN doc_train THEN 1 ELSE 0 END) AS has_train,
              MAX(CASE WHEN doc_train THEN 0 ELSE 1 END) AS has_eval,
              SUM(CASE WHEN doc_train THEN 1 ELSE 0 END) AS n_train_docs,
              SUM(CASE WHEN doc_train THEN 0 ELSE 1 END) AS n_eval_docs
            FROM sp GROUP BY domain
          UNION ALL
          SELECT 'domain_hash', domain,
              MAX(CASE WHEN dom_train THEN 1 ELSE 0 END),
              MAX(CASE WHEN dom_train THEN 0 ELSE 1 END),
              SUM(CASE WHEN dom_train THEN 1 ELSE 0 END),
              SUM(CASE WHEN dom_train THEN 0 ELSE 1 END)
            FROM sp GROUP BY domain)
        SELECT split_mode,
          CAST(COUNT(*) AS INT) AS n_domains,
          CAST(SUM(CASE WHEN has_train = 1 AND has_eval = 1 THEN 1 ELSE 0 END) AS INT) AS n_leaky_domains,
          CAST(SUM(CASE WHEN has_train = 1 AND has_eval = 0 THEN 1 ELSE 0 END) AS INT) AS n_train_only,
          CAST(SUM(CASE WHEN has_train = 0 AND has_eval = 1 THEN 1 ELSE 0 END) AS INT) AS n_eval_only,
          CAST(SUM(n_train_docs) AS INT) AS n_train_docs,
          CAST(SUM(n_eval_docs) AS INT) AS n_eval_docs
        FROM modes GROUP BY split_mode ORDER BY split_mode""")),

    // ---- Training-shard lake (ql8): the LAST pipeline step — a
    // released corpus laid out for the trainer. Requirements a data
    // loader actually has: (a) a deterministic global permutation
    // (salted 60-bit id hash `pk` — reshuffling = new salt, no RNG
    // state), (b) S balanced shards readable independently (shard =
    // pk % S, hive dir per shard, ONE file per shard so a loader
    // maps shard -> file), (c) a stable within-shard order (sorted by
    // (pk, doc_id) — the permutation order, so epoch replay is
    // byte-identical). One exchange on (shard) + an in-partition
    // sort; the write inserts NO extra sort because the sort key
    // LEADS with the partition column. The read-back audit proves
    // the layout contract physically: exactly one part-file per
    // shard dir, and per-shard monotonically_increasing_id ranges
    // are CONTIGUOUS (each file scans as one partition, so rid
    // order IS file row order) — the `pos` a loader would seek by is
    // then rid minus the shard's base rid, attached via an S-row
    // broadcast. Oracle: the permutation closed-form
    // (row_number over (shard ORDER BY pk, doc_id)). ----
    QueryDef("ql8_training_shard_lake",
      (s, dir) => {
        val nShards = 8
        val tmp = java.nio.file.Files.createTempDirectory("ql8_shardlake")
        val lake = s"$tmp/shards"
        try {
          val docs = t(s, dir, "documents")
            .select(col("doc_id"), col("n_chars"))
            .withColumn("pk", TextOps.hash60(
              concat(col("doc_id").cast("string"), lit(":perm"))))
            .withColumn("shard", (col("pk") % nShards).cast("int"))
          docs.repartition(nShards, col("shard"))
            .sortWithinPartitions(col("shard"), col("pk"), col("doc_id"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy("shard").parquet(lake)
          import scala.jdk.CollectionConverters._
          val filesPerShard = java.nio.file.Files.list(
              java.nio.file.Paths.get(lake)).iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("shard="))
            .map(p => p.getFileName.toString ->
              java.nio.file.Files.list(p).iterator().asScala.count(
                f => f.getFileName.toString.endsWith(".parquet")))
            .toMap
          require(filesPerShard.size == nShards &&
            filesPerShard.values.forall(_ == 1),
            s"want one file per shard dir, got $filesPerShard")
          val back = s.read.parquet(lake)
            .withColumn("rid", monotonically_increasing_id())
          val bounds = back.groupBy(col("shard"))
            .agg(min(col("rid")).as("rid0"), max(col("rid")).as("rid1"),
              count(lit(1)).as("shard_n_docs_l"),
              sum(col("n_chars")).as("shard_n_chars"))
          // contiguity: rid order is file row order only if every
          // shard file scanned as ONE partition — prove it, don't
          // assume it (S rows, driver-bounded)
          bounds.collect().foreach { r =>
            require(r.getAs[Long]("rid1") - r.getAs[Long]("rid0") + 1L ==
              r.getAs[Long]("shard_n_docs_l"),
              s"shard ${r.getAs[Int]("shard")} rid range not contiguous")
          }
          // the lake dir dies with this body — materialize the
          // result off it before cleanup (corpus-row-sized, the ql7
          // sink-hygiene convention; a real deployment keeps the lake
          // and never runs this collect)
          val rows = back.join(broadcast(bounds.select(col("shard"),
              col("rid0"), col("shard_n_docs_l"), col("shard_n_chars"))),
              "shard")
            .select(col("doc_id"), col("shard"),
              (col("rid") - col("rid0")).cast("int").as("pos"),
              col("shard_n_docs_l").cast("int").as("shard_n_docs"),
              col("shard_n_chars").cast("bigint").as("shard_n_chars"))
            .orderBy(col("doc_id"))
            .collect()
          import org.apache.spark.sql.types._
          s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
            StructField("doc_id", LongType),
            StructField("shard", IntegerType),
            StructField("pos", IntegerType),
            StructField("shard_n_docs", IntegerType),
            StructField("shard_n_chars", LongType))))
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      },
      Some("""WITH h AS (SELECT doc_id, n_chars,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':perm'), 1, 15))::BIGINT AS pk
          FROM documents),
        s AS (SELECT doc_id, n_chars, pk, CAST(pk % 8 AS INT) AS shard FROM h),
        b AS (SELECT shard, CAST(COUNT(*) AS INT) AS shard_n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS shard_n_chars FROM s GROUP BY shard)
        SELECT s.doc_id, s.shard,
          CAST(ROW_NUMBER() OVER (PARTITION BY s.shard ORDER BY s.pk, s.doc_id) - 1 AS INT) AS pos,
          b.shard_n_docs, b.shard_n_chars
        FROM s JOIN b USING (shard) ORDER BY s.doc_id""")),

    // ---- Packed-sequence lake (ql9): the FINAL trainer artifact —
    // each shard's documents BPE-encoded to token IDS, concatenated
    // in the deterministic (hash, id) stream order, and chopped into
    // fixed 256-token sequences (GPT-2-style concat-then-chop: docs
    // straddle sequence boundaries — qt33 assigns docs to bins, this
    // MATERIALIZES the bins), written through ql8's shard-lake
    // discipline (hive shard= dirs, one file per shard). The chop is
    // fully relational: per-shard cumulative offsets, each doc
    // exploding to only the bins it overlaps with a `slice` of its
    // ids (corpus tokens cross the (shard, bin) exchange ONCE, as
    // int pieces <= 256 long), assembly by sorted-struct flatten.
    // Proven on the STORED artifact, not the plan: every bin except
    // each shard's last is exactly 256 tokens, and the chop conserves
    // tokens exactly (sum over bins == a fresh source-side encode
    // count). Oracle replays BPE -> ids (codepoint | IdBase + rank)
    // -> global stream positions -> the same group arithmetic, and
    // pins the full id sequence of every bin as an ordered string. ----
    QueryDef("ql9_packed_sequences",
      (s, dir) => {
        val L = 256
        val nShards = 8
        val tmp = java.nio.file.Files.createTempDirectory("ql9_packlake")
        val lake = s"$tmp/packed"
        try {
          // BPE encode is per-row-heavy; spread (the qt32 lesson)
          val docs = graft.ops.Partitioning.spread(t(s, dir, "documents"))
          val seqs = graft.text.Pack.packSequences(docs, "doc_id",
            graft.functions.BpeEncode.bpe_token_ids(col("text")),
            binTokens = L, shards = nShards)
          seqs.repartition(nShards, col("shard"))
            .sortWithinPartitions(col("shard"), col("bin"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy("shard").parquet(lake)
          import scala.jdk.CollectionConverters._
          val filesPerShard = java.nio.file.Files.list(
              java.nio.file.Paths.get(lake)).iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("shard="))
            .map(p => p.getFileName.toString ->
              java.nio.file.Files.list(p).iterator().asScala.count(
                f => f.getFileName.toString.endsWith(".parquet")))
            .toMap
          require(filesPerShard.nonEmpty &&
            filesPerShard.values.forall(_ == 1),
            s"want one file per shard dir, got $filesPerShard")
          val back = s.read.parquet(lake)
          // loader contract on the STORED artifact: every bin except
          // each shard's last is exactly full
          val shardMax = back.groupBy(col("shard"))
            .agg(max(col("bin")).as("max_bin"))
          val ragged = back.join(shardMax, "shard")
            .filter(col("bin") =!= col("max_bin") && col("n_tok") =!= L)
            .count()
          require(ragged == 0L,
            s"$ragged interior bins not exactly $L tokens")
          // token conservation: the chop neither drops nor duplicates
          val srcTok = docs.agg(sum(
              graft.functions.BpeEncode.bpe_token_count(col("text"))))
            .first().getLong(0)
          val lakeTok = back.agg(sum(col("n_tok"))).first().getLong(0)
          require(srcTok == lakeTok,
            s"token conservation: source $srcTok vs lake $lakeTok")
          // the lake dir dies with this body — materialize the result
          // off it first (bin-count-sized; the ql8 sink-hygiene
          // convention — a real deployment keeps the lake instead)
          val rows = back
            .select(col("shard"), col("bin"), col("n_docs"), col("n_tok"),
              array_join(transform(col("ids"), i => i.cast("string")), " ")
                .as("seq_str"))
            .orderBy(col("shard"), col("bin"))
            .collect()
          import org.apache.spark.sql.types._
          s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
            StructField("shard", IntegerType),
            StructField("bin", LongType),
            StructField("n_docs", IntegerType),
            StructField("n_tok", IntegerType),
            StructField("seq_str", StringType))))
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      },
      Some(s"""WITH RECURSIVE $bpeCteSql,
        $bpeVocabCteSql,
        tl AS (SELECT doc_id, string_split(trim(bpe_s, '|'), '||') AS toks,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM bpe WHERE bpe_s <> ''),
        shp AS (SELECT doc_id, toks, h, CAST(h % 8 AS INT) AS shard,
            CAST(len(toks) AS BIGINT) AS n_tok FROM tl),
        cum AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS strt
          FROM shp),
        tok AS (SELECT shard, doc_id, strt + i - 1 AS pos, toks[i] AS tk
          FROM (SELECT shard, doc_id, strt, toks,
              unnest(generate_series(1, CAST(len(toks) AS BIGINT))) AS i
            FROM cum) q),
        tid AS (SELECT shard, doc_id, pos,
            COALESCE(bpev.id, unicode(tk)) AS id,
            CAST(pos // 256 AS BIGINT) AS bin
          FROM tok LEFT JOIN bpev ON bpev.tok = tok.tk)
        SELECT shard, bin, CAST(COUNT(DISTINCT doc_id) AS INT) AS n_docs,
          CAST(COUNT(*) AS INT) AS n_tok,
          string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS seq_str
        FROM tid GROUP BY shard, bin ORDER BY shard, bin""")),

    // ---- Packed-lake APPEND maintenance (ql10): how the ql9 artifact
    // grows in production. Training files are immutable once a run
    // reads them — continuing a shard's tail bin would REWRITE
    // yesterday's files — so a day's batch lands as a NEW SEGMENT:
    // each (shard, segment) is its own independently-packed stream
    // (loader concatenation restarts per segment, standard
    // sharded-dataset practice; the price is one ragged tail bin per
    // segment per shard, bounded by S x segments x L tokens). The
    // append is PROVEN append-only: segment-0's files are snapshotted
    // (path, size, mtime) before the batch lands and required
    // byte-untouched after — the ql7 untouched-partition discipline
    // on the trainer lake. Conservation and chop-exactness per stream
    // are ql9's operator-level pins; the oracle here pins the full id
    // sequence of every bin in BOTH segments. ----
    QueryDef("ql10_packed_lake_append",
      (s, dir) => {
        val L = 256
        val nShards = 8
        val tmp = java.nio.file.Files.createTempDirectory("ql10_packlake")
        val lake = s"$tmp/packed"
        import scala.jdk.CollectionConverters._
        def parquetFiles(): Map[String, (Long, Long)] = {
          val root = java.nio.file.Paths.get(lake)
          if (!java.nio.file.Files.exists(root)) Map.empty
          else java.nio.file.Files.walk(root).iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(p => p.toString -> ((java.nio.file.Files.size(p),
              java.nio.file.Files.getLastModifiedTime(p).toMillis)))
            .toMap
        }
        try {
          val all = graft.ops.Partitioning.spread(t(s, dir, "documents"))
            .withColumn("part", TextOps.hashSplit(col("doc_id"), Seq(90),
              Seq("corpus", "batch")))
          def pack(part: String, seg: Int) =
            graft.text.Pack.packSequences(all.filter(col("part") === part),
                "doc_id",
                graft.functions.BpeEncode.bpe_token_ids(col("text")),
                binTokens = L, shards = nShards)
              .withColumn("segment", lit(seg))
              .repartition(nShards, col("shard"))
              .sortWithinPartitions(col("shard"), col("bin"))
          // day 0: the corpus segment
          pack("corpus", 0).write
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy("shard", "segment").parquet(lake)
          val before = parquetFiles()
          // day 1: the batch appends as a NEW segment — no existing
          // dir is opened for write
          pack("batch", 1).write
            .mode(org.apache.spark.sql.SaveMode.Append)
            .partitionBy("shard", "segment").parquet(lake)
          val after = parquetFiles()
          require(before.forall { case (p, sm) => after.get(p).contains(sm) },
            "append touched a prior segment's files")
          // one file per (shard, segment) leaf — each write call holds
          // one segment, repartitioned to one task per shard
          val leafCounts = after.keys.toSeq
            .groupBy(p => p.substring(lake.length, p.lastIndexOf('/')))
            .map { case (leaf, fs) => leaf -> fs.size }
          require(leafCounts.nonEmpty && leafCounts.values.forall(_ == 1),
            s"want one file per (shard, segment) dir, got $leafCounts")
          val back = s.read.parquet(lake)
          // every non-tail bin of each (shard, segment) stream is full
          val segMax = back.groupBy(col("shard"), col("segment"))
            .agg(max(col("bin")).as("max_bin"))
          val ragged = back.join(segMax, Seq("shard", "segment"))
            .filter(col("bin") =!= col("max_bin") && col("n_tok") =!= L)
            .count()
          require(ragged == 0L,
            s"$ragged interior bins not exactly $L tokens")
          val rows = back
            .select(col("shard"), col("segment"), col("bin"), col("n_docs"),
              col("n_tok"),
              array_join(transform(col("ids"), i => i.cast("string")), " ")
                .as("seq_str"))
            .orderBy(col("shard"), col("segment"), col("bin"))
            .collect()
          import org.apache.spark.sql.types._
          s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
            StructField("shard", IntegerType),
            StructField("segment", IntegerType),
            StructField("bin", LongType),
            StructField("n_docs", IntegerType),
            StructField("n_tok", IntegerType),
            StructField("seq_str", StringType))))
        } finally {
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      },
      Some(s"""WITH RECURSIVE $bpeCteSql,
        $bpeVocabCteSql,
        tl AS (SELECT doc_id, string_split(trim(bpe_s, '|'), '||') AS toks,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
            CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
              THEN 0 ELSE 1 END AS seg
          FROM bpe WHERE bpe_s <> ''),
        shp AS (SELECT doc_id, toks, h, seg, CAST(h % 8 AS INT) AS shard,
            CAST(len(toks) AS BIGINT) AS n_tok FROM tl),
        cum AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard, seg
            ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS strt
          FROM shp),
        tok AS (SELECT shard, seg, doc_id, strt + i - 1 AS pos, toks[i] AS tk
          FROM (SELECT shard, seg, doc_id, strt, toks,
              unnest(generate_series(1, CAST(len(toks) AS BIGINT))) AS i
            FROM cum) q),
        tid AS (SELECT shard, seg, doc_id, pos,
            COALESCE(bpev.id, unicode(tk)) AS id,
            CAST(pos // 256 AS BIGINT) AS bin
          FROM tok LEFT JOIN bpev ON bpev.tok = tok.tk)
        SELECT shard, CAST(seg AS INT) AS segment, bin,
          CAST(COUNT(DISTINCT doc_id) AS INT) AS n_docs,
          CAST(COUNT(*) AS INT) AS n_tok,
          string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS seq_str
        FROM tid GROUP BY shard, seg, bin
        ORDER BY shard, segment, bin""")),

    // ---- STREAMED packed-lake maintenance (qst15): ql10 as the
    // continuous process it is in production — document arrivals
    // land on a file stream, and EACH MICRO-BATCH packs as one
    // immutable segment appended to the trainer lake from inside
    // foreachBatch (segment = batch id; the stream itself is
    // stateless — all packing runs on the batch DataFrame, so the
    // per-shard cumulative window is per-batch-bounded, never
    // unbounded streaming state). Arrival files are written
    // deterministically (day 0 = the corpus slice, day 1 = the batch
    // slice; maxFilesPerTrigger=1 makes file = micro-batch = segment),
    // so the resulting lake is BIT-IDENTICAL to ql10's batch-built
    // lake — the oracle IS ql10's SQL, pinning stream ≡ batch on the
    // stored trainer artifact itself (the qst-family convention
    // extended to the last pipeline stage). ----
    QueryDef("qst15_stream_packed_lake",
      (s, dir) => {
        val L = 256
        val nShards = 8
        val tmp = java.nio.file.Files.createTempDirectory("qst15_packlake")
        val lake = s"$tmp/packed"
        val arrivals = scratchDir("stq_arrivals")
        val ckpt = scratchDir("stq_ckpt15")
        import scala.jdk.CollectionConverters._
        def cleanup(p: java.nio.file.Path): Unit =
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        try {
          val all = t(s, dir, "documents")
            .withColumn("part", TextOps.hashSplit(col("doc_id"), Seq(90),
              Seq("corpus", "batch")))
          // one arrival file per day, in arrival (mtime) order
          Seq("corpus" -> "day0", "batch" -> "day1").foreach {
            case (part, day) =>
              val stage = java.nio.file.Files.createTempDirectory(tmp, day)
              all.filter(col("part") === part)
                .select(col("doc_id"), col("text"))
                .coalesce(1).write.mode("overwrite").parquet(stage.toString)
              val f = java.nio.file.Files.list(stage).iterator().asScala
                .find(_.getFileName.toString.endsWith(".parquet")).get
              java.nio.file.Files.move(f, arrivals.resolve(s"$day.parquet"))
              cleanup(stage)
          }
          val prevParts = s.conf.get("spark.sql.shuffle.partitions")
          s.conf.set("spark.sql.shuffle.partitions", "8")
          val q = try {
            s.readStream.schema("doc_id LONG, text STRING")
              .option("maxFilesPerTrigger", "1")
              .parquet(arrivals.toString)
              .writeStream
              .foreachBatch { (batch: DataFrame, bid: Long) =>
                graft.text.Pack.packSequences(
                    graft.ops.Partitioning.spread(batch), "doc_id",
                    graft.functions.BpeEncode.bpe_token_ids(col("text")),
                    binTokens = L, shards = nShards)
                  .withColumn("segment", lit(bid.toInt))
                  .repartition(nShards, col("shard"))
                  .sortWithinPartitions(col("shard"), col("bin"))
                  .write.mode(org.apache.spark.sql.SaveMode.Append)
                  .partitionBy("shard", "segment").parquet(lake)
                ()
              }
              .option("checkpointLocation", ckpt.toString)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
          } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
          q.awaitTermination()
          val back = s.read.parquet(lake)
          // the stored artifact honors the loader contract per stream
          val segMax = back.groupBy(col("shard"), col("segment"))
            .agg(max(col("bin")).as("max_bin"))
          val ragged = back.join(segMax, Seq("shard", "segment"))
            .filter(col("bin") =!= col("max_bin") && col("n_tok") =!= L)
            .count()
          require(ragged == 0L,
            s"$ragged interior bins not exactly $L tokens")
          val rows = back
            .select(col("shard"), col("segment"), col("bin"), col("n_docs"),
              col("n_tok"),
              array_join(transform(col("ids"), i => i.cast("string")), " ")
                .as("seq_str"))
            .orderBy(col("shard"), col("segment"), col("bin"))
            .collect()
          import org.apache.spark.sql.types._
          s.createDataFrame(rows.toSeq.asJava, StructType(Seq(
            StructField("shard", IntegerType),
            StructField("segment", IntegerType),
            StructField("bin", LongType),
            StructField("n_docs", IntegerType),
            StructField("n_tok", IntegerType),
            StructField("seq_str", StringType))))
        } finally {
          cleanup(tmp); cleanup(arrivals); cleanup(ckpt)
        }
      },
      // stream ≡ batch: ql10's oracle verbatim — the lake a
      // micro-batched stream builds must be the lake the batch
      // composite builds
      Some(s"""WITH RECURSIVE $bpeCteSql,
        $bpeVocabCteSql,
        tl AS (SELECT doc_id, string_split(trim(bpe_s, '|'), '||') AS toks,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
            CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
              THEN 0 ELSE 1 END AS seg
          FROM bpe WHERE bpe_s <> ''),
        shp AS (SELECT doc_id, toks, h, seg, CAST(h % 8 AS INT) AS shard,
            CAST(len(toks) AS BIGINT) AS n_tok FROM tl),
        cum AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard, seg
            ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS strt
          FROM shp),
        tok AS (SELECT shard, seg, doc_id, strt + i - 1 AS pos, toks[i] AS tk
          FROM (SELECT shard, seg, doc_id, strt, toks,
              unnest(generate_series(1, CAST(len(toks) AS BIGINT))) AS i
            FROM cum) q),
        tid AS (SELECT shard, seg, doc_id, pos,
            COALESCE(bpev.id, unicode(tk)) AS id,
            CAST(pos // 256 AS BIGINT) AS bin
          FROM tok LEFT JOIN bpev ON bpev.tok = tok.tk)
        SELECT shard, CAST(seg AS INT) AS segment, bin,
          CAST(COUNT(DISTINCT doc_id) AS INT) AS n_docs,
          CAST(COUNT(*) AS INT) AS n_tok,
          string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS seq_str
        FROM tid GROUP BY shard, seg, bin
        ORDER BY shard, segment, bin""")),

    // ---- STREAMED document-lake maintenance (qst16): ql7's
    // refreshAndAppend driven from a crawl stream — a crawl IS a
    // stream, and the maintenance fold is its natural sink. Arrival
    // files are KEYED per day (canonical_url hash parity), the shape a
    // real crawler produces (a day's fetch list, each url fetched once
    // that day) and the condition under which streamed maintenance is
    // exactly batch maintenance: every key's batch docs land in ONE
    // micro-batch, so per-day reps = whole-batch reps restricted to
    // that day and the final lake state is policy-determined.
    // foreachBatch → DocLake.refreshAndAppend per micro-batch; both
    // arms required to trip across the stream; oracle = ql7's SQL
    // VERBATIM (the ql10 → qst15 stored-artifact pattern). ----
    QueryDef("qst16_stream_doc_lake",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("qst16_doclake")
        val lake = s"$tmp/docs"
        val arrivals = scratchDir("stq_arrivals16")
        val ckpt = scratchDir("stq_ckpt16")
        import scala.jdk.CollectionConverters._
        def cleanup(p: java.nio.file.Path): Unit =
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        try {
          val lang = t(s, dir, "documents").select(col("doc_id"), col("lang"))
          val pathMod = (lang.count() * 18 / 25).toInt
          val canon = urlsFromDocs(s, dir, pathMod = pathMod)
            .withColumn("part",
              TextOps.hashSplit(col("doc_id"), Seq(90), Seq("corpus", "batch")))
            .join(lang, "doc_id")
            .select(col("doc_id"), col("part"), col("lang"),
              graft.text.Urls.canonicalizeUrl(col("url")).as("canonical_url"))
            // multiple consumers (rep aggregates per slice; qst16 adds
            // the per-day arrival writes) — persist or the URL-fixture
            // + canonicalize chain re-derives per consumer (the
            // qd7/qx4 class)
            .persist(StorageLevel.MEMORY_AND_DISK)
          def reps(df: DataFrame): DataFrame =
            df.groupBy(col("canonical_url"))
              .agg(min(col("doc_id")).as("doc_id"),
                min_by(col("lang"), col("doc_id")).as("lang"))
              .select(col("canonical_url"), col("doc_id"), col("lang"),
                col("doc_id").as("last_fetch_id"))
          reps(canon.filter(col("part") === "corpus"))
            .repartition(col("lang"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy("lang").parquet(lake)
          // one arrival file per crawl day, keys partitioned by day
          val batchSide = canon.filter(col("part") === "batch")
            .select(col("doc_id"), col("lang"), col("canonical_url"))
          Seq(0, 1).foreach { day =>
            val stage = java.nio.file.Files.createTempDirectory(tmp, s"day$day")
            batchSide
              .filter(TextOps.hash60(col("canonical_url")) % 2 === day)
              .coalesce(1).write.mode("overwrite").parquet(stage.toString)
            val f = java.nio.file.Files.list(stage).iterator().asScala
              .find(_.getFileName.toString.endsWith(".parquet")).get
            java.nio.file.Files.move(f, arrivals.resolve(s"day$day.parquet"))
            cleanup(stage)
          }
          val nRef = new java.util.concurrent.atomic.AtomicLong(0L)
          val nNew = new java.util.concurrent.atomic.AtomicLong(0L)
          // The pinned width must cover the WHOLE drained stream, not
          // just start(): the heavy per-micro-batch work
          // (DocLake.refreshAndAppend) runs in foreachBatch on the
          // OUTER session `s`, whose conf is read at each batch — a
          // restore right after start() (the runAvailableNow pattern,
          // correct there because that stream's work is all inside
          // the cloned-session plan) would race the maintenance joins
          // back to the session default. Restore after
          // awaitTermination instead.
          val prevParts = s.conf.get("spark.sql.shuffle.partitions")
          s.conf.set("spark.sql.shuffle.partitions", "8")
          try {
            val q = s.readStream
              .schema("doc_id LONG, lang STRING, canonical_url STRING")
              .option("maxFilesPerTrigger", "1")
              .parquet(arrivals.toString)
              .writeStream
              .foreachBatch { (batch: DataFrame, _: Long) =>
                val (r, a) = graft.lake.DocLake.refreshAndAppend(
                  s, lake, reps(batch), "canonical_url", "lang",
                  updateCols = Seq("last_fetch_id"))
                nRef.addAndGet(r); nNew.addAndGet(a)
                ()
              }
              .option("checkpointLocation", ckpt.toString)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
          require(nRef.get() > 0 && nNew.get() > 0,
            s"fixture must trip both arms across the stream, got " +
              s"refresh=${nRef.get()} append=${nNew.get()}")
          val stored = s.read.parquet(lake)
            .select(col("canonical_url"), col("doc_id"), col("lang"),
              col("last_fetch_id"),
              (col("last_fetch_id") =!= col("doc_id")).as("refreshed"))
            .orderBy(col("canonical_url")).collect()
          import org.apache.spark.sql.types._
          s.createDataFrame(stored.toSeq.asJava, StructType(Seq(
            StructField("canonical_url", StringType),
            StructField("doc_id", LongType),
            StructField("lang", StringType),
            StructField("last_fetch_id", LongType),
            StructField("refreshed", BooleanType))))
        } finally {
          cleanup(tmp); cleanup(arrivals); cleanup(ckpt)
        }
      },
      Some(docLakeMaintOracleSql)),

    // ---- Model-based quality filtering (qt28): the hashing-trick
    // linear classifier EVERY production corpus build runs (a trained
    // fasttext/logreg quality or language filter) in its exact
    // serving shape — token → salted hash → bucket → weight lookup in
    // a dim-sized PLAN-LITERAL weight vector → ordered fold → mean
    // score → keep verdict. Inference is a pure codegen expression
    // riding the scan: no UDF, no join, no shuffle; swapping in
    // trained weights is a new literal. The stub weights are
    // closed-form ((b mod 997)/997 − 0.5) so the oracle recomputes
    // the whole model arithmetically; the threshold (0.0) keeps 10%
    // on this corpus — the flag genuinely partitions. ----
    QueryDef("qt28_quality_classifier",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.hashedClassifierScore(col("text"),
            TextOps.stubQualityWeights()).as("score"))
        .withColumn("keep", col("score") >= 0.0)
        .orderBy(col("doc_id")),
      Some("""WITH d AS (SELECT doc_id,
          string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        FROM documents),
      sc AS (SELECT doc_id,
          list_reduce(list_transform(toks,
            t -> CAST((('0x' || substr(md5('qc:' || t), 1, 15))::BIGINT % 4096) % 997 AS DOUBLE)
                 / 997.0 - 0.5),
            (x, y) -> x + y) / len(toks) AS score
        FROM d)
      SELECT doc_id, score, (score >= 0.0) AS keep FROM sc
      ORDER BY doc_id""")),

    // ---- WEB-CORPUS release composite (qx10): the provenance half of
    // a corpus build as ONE lazy plan, the full C4-style chain —
    // canonical URL + PSL registrable domain, URL-KEYED EXACT DEDUP
    // on the canonical key (qt30's stage: refetch variants collapse
    // to the lowest doc_id BEFORE any volume accounting), a
    // broadcast-literal domain blocklist (the robots/spam-list
    // stage), the per-domain volume cap applied to canonical
    // UNBLOCKED reps only (cap slots are spent on neither duplicates
    // nor blocked rows — stage order is semantics, mirrored exactly),
    // and the hashing-trick quality floor; keep = canonical ∧
    // unblocked ∧ in-cap ∧ quality ≥ −0.08. Every stage genuinely
    // trips on the pathMod=120 fixture at sf0.01 (500 docs → 120
    // canonical reps, 2 of 40 domains blocked, every domain's 3
    // canonical reps over cap 2, quality floor near p25). Aggregate
    // subtrees joined doc-keyed, nothing corpus-sized on a build
    // side; the cap inherits qt27's bounded-aggregate shape. ----
    QueryDef("qx10_web_corpus_release",
      (s, dir) => {
        val blocklist = Seq("site12.com", "site26.co.uk")
        // dom feeds the rep aggregate AND the annotate join; ann feeds
        // the cap's TWO passes (the qt27 caller-owned-cache contract)
        // plus the final projection — unpersisted, the PSL+canonicalize
        // chain re-derives per consumer (the qd7/qx4 class)
        val dom = graft.text.Urls.registrableDomainsPsl(
            urlsFromDocs(s, dir, pathMod = 120), "url", "domain")
          .select(col("doc_id"), col("domain"),
            graft.text.Urls.canonicalizeUrl(col("url")).as("canonical_url"))
          .withColumn("blocked", col("domain").isin(blocklist: _*))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val reps = dom.groupBy(col("canonical_url"))
          .agg(min(col("doc_id")).as("canonical_id"))
        val ann = dom.join(reps, "canonical_url")
          .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val inCap = graft.text.Urls.domainCap(
            ann.filter(col("is_canonical") && !col("blocked"))
              .select(col("doc_id"), col("domain")),
            "doc_id", "domain", cap = 2)
          .select(col("doc_id"), col("keep").as("in_cap"))
        val scored = t(s, dir, "documents").select(col("doc_id"),
          TextOps.hashedClassifierScore(col("text"),
            TextOps.stubQualityWeights()).as("score"))
        ann.join(inCap, Seq("doc_id"), "left")
          .join(scored, "doc_id")
          .select(col("doc_id"), col("domain"), col("blocked"),
            col("is_canonical"),
            coalesce(col("in_cap"), lit(false)).as("in_cap"), col("score"),
            (col("is_canonical") && !col("blocked") &&
              coalesce(col("in_cap"), lit(false)) &&
              col("score") >= -0.08).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH u AS (${urlFixtureSql("doc_id % 120")}),$urlDomainCtes,
        b AS (SELECT doc_id, domain, canonical_url,
            MIN(doc_id) OVER (PARTITION BY canonical_url) AS canonical_id,
            list_contains(['site12.com', 'site26.co.uk'], domain) AS blocked
          FROM dom),
        r AS (SELECT doc_id, (rk <= 2) AS in_cap FROM (
          SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY domain
            ORDER BY ('0x' || substr(md5('domcap:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
              doc_id) AS rk
          FROM b WHERE doc_id = canonical_id AND NOT blocked)),
        tx AS (SELECT doc_id,
            string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
          FROM documents),
        sc AS (SELECT doc_id,
            list_reduce(list_transform(toks,
              t2 -> CAST((('0x' || substr(md5('qc:' || t2), 1, 15))::BIGINT % 4096) % 997 AS DOUBLE)
                   / 997.0 - 0.5),
              (x, y) -> x + y) / len(toks) AS score
          FROM tx)
        SELECT b.doc_id, b.domain, b.blocked,
          (b.doc_id = b.canonical_id) AS is_canonical,
          COALESCE(r.in_cap, FALSE) AS in_cap, sc.score,
          ((b.doc_id = b.canonical_id) AND NOT b.blocked
            AND COALESCE(r.in_cap, FALSE) AND sc.score >= -0.08) AS keep
        FROM b LEFT JOIN r ON r.doc_id = b.doc_id
        JOIN sc ON sc.doc_id = b.doc_id
        ORDER BY b.doc_id""")),

    // ---- FULL release verdict (qx11): the content half (qx4 —
    // boilerplate-clean -> exact dedup -> n-gram decontamination) AND
    // the provenance half (qx10 — canonical URL -> URL dedup ->
    // blocklist -> per-domain cap -> quality floor) conjoined per doc
    // in ONE lazy plan: keep = content_keep AND provenance_keep. A
    // release pipeline runs BOTH families — a page can be clean text
    // from a capped-out domain, or a blocklist survivor that is a
    // near-verbatim eval leak — and the verdicts are independent
    // subtrees joined doc-keyed, so neither side's aggregates see the
    // other's corpus-sized intermediates. Every arm trips at sf0.01:
    // 451 content keeps ∧ 57 provenance keeps → 44 releases (the
    // conjunction genuinely rejects 13 provenance survivors). ----
    QueryDef("qx11_full_release",
      (s, dir) => {
        val (content, prov) = releaseHalves(s, dir)
        content.join(prov, "doc_id")
          .select(col("doc_id"), col("content_keep"), col("provenance_keep"),
            (col("content_keep") && col("provenance_keep")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $releaseVerdictCtes
        SELECT content.doc_id, content_keep, provenance_keep,
          (content_keep AND provenance_keep) AS keep
        FROM content JOIN prov ON prov.doc_id = content.doc_id
        ORDER BY content.doc_id""")),

    // ---- Release verdict WITH the quality gate (qx13): qx11's
    // content ∧ provenance conjunction composed with qt44's CCNet
    // head/middle/tail LM gate — keep = content_keep ∧
    // provenance_keep ∧ quality_keep, where quality_keep is
    // tertileGate's "not tail" bit over the Stupid Backoff LM score
    // (trained on the doc_id % 5 target slice, qt43). A page can be
    // clean, canonical, in-cap text that the LM still reads as
    // gibberish — CCNet's gate belongs in the shipping verdict the
    // same way qt20/qt21 sit in qx5. Docs the scorer drops (empty
    // after normalization / unmodeled language) default to
    // quality_keep = false — unscorable is unpublishable. All three
    // arms genuinely trip at both SFs (sf0.01: 13 docs rejected
    // ONLY by quality among content∧provenance keeps, 10 only by
    // content, 280 only by provenance; 31 releases — sf0.001:
    // 9/6/284, 33 releases). The three verdict subtrees stay
    // independent until the final doc-keyed joins: the LM's
    // broadcast-gram scoring never sees the URL table, the PSL walk
    // never sees gram hashes — at 100 TB each half scales on its own
    // already-audited plan (qx11, qt43/qt44) and the composition
    // adds two slim hash joins.
    QueryDef("qx13_release_with_quality",
      (s, dir) => {
        val (content, prov) = releaseHalves(s, dir)
        val docs = lmDocs(s, dir)
        val model = graft.text.NgramLm.train(
          docs.filter(col("doc_id") % 5 === 0), "text2", "lang")
        // scores feed tertileGate twice (threshold sample + final
        // join) — persist, the qx10/qd7 rule
        val scores = graft.text.NgramLm.score(
            docs, "doc_id", "text2", "lang", model)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val quality = graft.text.NgramLm.tertileGate(scores)
          .select(col("doc_id"), col("keep").as("quality_keep"))
        content.join(prov, "doc_id")
          .join(quality, Seq("doc_id"), "left")
          .select(col("doc_id"), col("content_keep"), col("provenance_keep"),
            coalesce(col("quality_keep"), lit(false)).as("quality_keep"),
            (col("content_keep") && col("provenance_keep") &&
              coalesce(col("quality_keep"), lit(false))).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $releaseVerdictCtes,
        $lmQualityCtes
        SELECT content.doc_id, content_keep, provenance_keep,
          COALESCE(qual.quality_keep, FALSE) AS quality_keep,
          (content_keep AND provenance_keep
            AND COALESCE(qual.quality_keep, FALSE)) AS keep
        FROM content JOIN prov ON prov.doc_id = content.doc_id
        LEFT JOIN qual ON qual.doc_id = content.doc_id
        ORDER BY content.doc_id""")),

    // ---- The FULL curation release (qx14): the published pipeline
    // (body and oracle CTEs shared with qx15, which MATERIALIZES this
    // verdict as the shard-lake artifact — see curationRelease /
    // curationCtesSql)
    // ordering — quality ∧ resample ∧ mixture ∧ decontaminate — in ONE
    // oracled verdict. qx13's three arms (content, provenance, CCNet
    // LM gate) conjoined with the round-17 curation stack: the TRAINED
    // quality classifier (qt46's 8-step GD weights, keep = margin > 0),
    // DSIR importance resampling (qt47's salted draw against the
    // normalized target-likeness weight), and temperature-scaled
    // mixture targeting (qt48's α = 1/2 strata). Six per-stage flags
    // stay visible so a corpus build can report WHY a document
    // dropped. MEASURED arm contribution (docs rejected by ONE arm
    // alone among the other five's keeps): sf0.01 = 2 content / 66
    // provenance / 4 LM / 4 classifier / 3 DSIR / 5 mixture, 10
    // releases of 500; sf0.001 = 0/95/3/2/10/3, 13 releases — every
    // new arm genuinely decides documents at both SFs. Plan shape:
    // six INDEPENDENT verdict subtrees — each
    // already plan-audited on its own row — composed by slim
    // doc-keyed equi-joins; the only additions over the parts are
    // five hash joins on (doc_id, boolean) projections, so at 100 TB
    // the composite scales exactly as its pieces do. Oracle = the
    // proven CTE families chained verbatim: the release prefix and LM
    // segment shared with qx11/qx13, and the qt46/qt47/qt48 chains
    // embedded under qc_/ds_/tm_ prefixes (their standalone oracles
    // are the SAME generator at prefix ""). ----
    QueryDef("qx14_curation_release",
      (s, dir) => curationRelease(s, dir),
      Some(s"""WITH $curationCtesSql
        $curationVerdictSelectSql
        ORDER BY content.doc_id""")),

    // ---- Release-to-lake materialization (qx15): qx14 DECIDES the
    // release; this row makes the release EXIST — the verdict's kept
    // set written as the training-shard lake artifact (ql8's layout
    // exactly: salted deterministic permutation pk, shard = pk % S,
    // hive dir per shard, one exchange + in-partition sort) and read
    // BACK, with the output built from the read-back rows so the
    // oracle's content identity (md5 of each kept doc's text, its
    // shard, its within-shard permutation ordinal) proves the
    // write+read cycle preserved the decided corpus bit-for-bit —
    // the ql3/ql4 read-back-hash precedent applied to the verdict →
    // artifact gap. S = 2: the release is verdict-thinned (10-13
    // docs at gate SFs), and partitionBy writes no dir for an empty
    // shard — a wider S would turn fixture thinness into a spurious
    // layout failure while proving nothing extra about identity
    // (ql8 pins the layout contract at corpus width). The rid
    // contiguity require is kept: pos is only file row order if each
    // shard file scanned as ONE partition. At 100 TB this is qx14's
    // cost + ql8's cost — the verdict subtrees, one kept-set join,
    // one exchange on (shard), and a partition-local sort. ----
    QueryDef("qx15_release_to_lake",
      (s, dir) => {
        val nShards = 2
        val tmp = java.nio.file.Files.createTempDirectory("qx15_release")
        val lake = s"$tmp/release"
        try {
          val kept = curationRelease(s, dir, sorted = false)
            .filter(col("keep")).select(col("doc_id"))
          val rel = t(s, dir, "documents")
            .join(kept, "doc_id")
            .select(col("doc_id"), col("lang"), col("text"))
            .withColumn("pk", TextOps.hash60(
              concat(col("doc_id").cast("string"), lit(":relperm"))))
            .withColumn("shard", (col("pk") % nShards).cast("int"))
          rel.repartition(nShards, col("shard"))
            .sortWithinPartitions(col("shard"), col("pk"), col("doc_id"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .partitionBy("shard").parquet(lake)
          // schema passed explicitly (the DocLake zero-append device):
          // an all-rejected release writes a part-file-less lake whose
          // read-back would otherwise die on schema inference — with
          // the declared schema it reads back as the empty release,
          // matching the oracle's empty kept set
          // Persisted so the contiguity guard and the pos projection
          // below consume the SAME materialization of
          // monotonically_increasing_id: unpersisted they are two
          // independent scans, and a partition-layout change between
          // the two jobs could pass the guard yet misorder pos
          // (validate the materialization you consume — the DocLake
          // guard principle).
          val back = s.read.schema(rel.schema).parquet(lake)
            .withColumn("rid", monotonically_increasing_id())
            .persist(StorageLevel.MEMORY_AND_DISK)
          val bounds = back.groupBy(col("shard"))
            .agg(min(col("rid")).as("rid0"), max(col("rid")).as("rid1"),
              count(lit(1)).as("shard_n_l"))
          bounds.collect().foreach { r =>
            require(r.getAs[Long]("rid1") - r.getAs[Long]("rid0") + 1L ==
              r.getAs[Long]("shard_n_l"),
              s"shard ${r.getAs[Int]("shard")} rid range not contiguous")
          }
          // the lake dir dies with this body — materialize off it
          // before cleanup via localCheckpoint, NOT a driver collect:
          // the release is corpus-scale at 100 TB, so the rows stay
          // distributed; the eager checkpoint pins them on executors
          // before the finally deletes the lake (same columns, same
          // types as the createDataFrame copy this replaces)
          val rel2 = back.join(broadcast(bounds
              .select(col("shard"), col("rid0"))), "shard")
            .select(col("doc_id"), col("shard"),
              (col("rid") - col("rid0")).cast("int").as("pos"),
              col("lang"), md5(col("text")).as("text_md5"))
            .orderBy(col("doc_id"))
            .localCheckpoint()
          back.unpersist()
          rel2
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      },
      Some(s"""WITH $curationCtesSql,
        kept AS (SELECT content.doc_id
          FROM content JOIN prov ON prov.doc_id = content.doc_id
          LEFT JOIN qual ON qual.doc_id = content.doc_id
          JOIN clf ON clf.doc_id = content.doc_id
          JOIN dsr ON dsr.doc_id = content.doc_id
          JOIN tmx ON tmx.doc_id = content.doc_id
          WHERE content_keep AND provenance_keep
            AND COALESCE(qual.quality_keep, FALSE)
            AND clf.clf_keep AND dsr.dsir_keep AND tmx.mix_keep),
        prm AS (SELECT k.doc_id, d2.lang, md5(d2.text) AS text_md5,
            ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR) || ':relperm'), 1, 15))::BIGINT AS pk
          FROM kept k JOIN documents d2 ON d2.doc_id = k.doc_id)
        SELECT doc_id, CAST(pk % 2 AS INT) AS shard,
          CAST(ROW_NUMBER() OVER (PARTITION BY pk % 2
            ORDER BY pk, doc_id) - 1 AS INT) AS pos,
          lang, text_md5
        FROM prm ORDER BY doc_id""")),

    // ---- Release lineage/diff (qx16): the operational "why did
    // doc X fall out of the release". Release N-1 = the six-gate
    // curation verdict (qx14's chain VERBATIM — shared generator)
    // over the corpus BEFORE the new crawl (doc_id % 3 == 1 is the
    // crawl's new slice — the residue chosen because, uniquely among
    // the probed classes, it makes EVERY gate flip at both gate SFs,
    // content included: a new doc steals an exact-dup canonical); release N = the verdict over the full
    // corpus, every model REFIT on it as a real re-release does.
    // The diff emits per-doc status (new_admitted / new_rejected /
    // kept / dropped / regained / rejected) plus per-gate flip
    // attribution for docs present in both releases — gates flip
    // because refits move thresholds/weights (lm/clf/dsir), the new
    // crawl steals exact-dup canonicals (MIN doc_id) and domain-cap
    // slots (content/provenance), and mixture targets rescale with
    // per-lang counts (mix). Oracle = the proven curation CTE chain
    // run TWICE — the old arm scopes it to the pre-crawl corpus by
    // shadowing `documents` with a filtered CTE (main.documents
    // disambiguates the base table) — then diffed; the verdict
    // SELECT is the shared curationVerdictSelectSql, so the arms
    // cannot desynchronize from qx14. At 100 TB: two verdict chains
    // (each linear, its fits in sequence) + ONE doc_id equi-join — the
    // diff itself adds no new shuffle class; in production the N-1
    // verdict is the stored qx15 artifact, making this N's cost
    // plus one join. ----
    QueryDef("qx16_release_lineage",
      (s, dir) => {
        val vOld = curationRelease(s, dir, col("doc_id") % 3 =!= 1,
          fitTag = "qx16-old", sorted = false)
        val vNew = curationRelease(s, dir, fitTag = "qx16-new",
          sorted = false)
        lineageDiff(vNew, vOld)
      },
      Some(lineageOracleSql)),

    // ---- Lineage from the STORED manifest (qx17): qx16 diffs two
    // in-memory verdict arms; production diffs against the ARTIFACT —
    // release N-1's verdict manifest (doc_id -> six gate flags +
    // keep, the release's provenance record) persisted at ship time.
    // This row closes that claim->demo gap the qx15 way: the N-1 arm
    // is WRITTEN as a parquet manifest lake, read BACK with an
    // explicit schema, row-count-require'd, and the diff consumes the
    // READ-BACK rows — so the oracle (qx16's verbatim) only matches
    // if every flag survived the round trip. At 100 TB the manifest
    // is corpus-cardinality but ~10 bytes/doc wide, and diffing
    // release N against it costs N's verdict chain + ONE doc_id
    // equi-join against a narrow parquet scan — the two-chain qx16
    // shape is only the bootstrap case (no stored manifest yet). ----
    QueryDef("qx17_lineage_from_artifact",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("qx17_manifest")
        val lake = s"$tmp/verdict_n1"
        try {
          // persisted: the old arm has TWO consumers (the manifest
          // write and the cardinality require) — the multi-consumer
          // persist discipline, released once both have run
          val vOld = curationRelease(s, dir, col("doc_id") % 3 =!= 1,
              fitTag = "qx17-old", sorted = false)
            .persist(StorageLevel.MEMORY_AND_DISK)
          vOld.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(lake)
          // explicit schema (the qx15/DocLake zero-append device) and
          // a cardinality require: the artifact must BE the arm
          val back = s.read.schema(vOld.schema).parquet(lake)
          val nOld = back.count()
          require(nOld == vOld.count(),
            s"manifest round trip changed cardinality: $nOld")
          vOld.unpersist()
          // the manifest lake dies with this body — materialize the
          // diff off it before cleanup via localCheckpoint, NOT a
          // driver collect: the diff is corpus-cardinality (one row
          // per release-N document — billions at 100 TB), so it must
          // stay distributed; the eager checkpoint pins the rows on
          // executors before the finally deletes the lake, and the
          // returned frame is those very rows (same columns, same
          // types — the createDataFrame this replaces was a
          // driver-side copy of exactly this projection). The new arm
          // is persisted because the diff's global sort reads it twice
          // (range sampling, then the sort itself).
          val vNew = curationRelease(s, dir, fitTag = "qx17-new",
              sorted = false)
            .persist(StorageLevel.MEMORY_AND_DISK)
          val diff = lineageDiff(vNew, back).localCheckpoint()
          vNew.unpersist()
          diff
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(q => java.nio.file.Files.deleteIfExists(q))
        }
      },
      Some(lineageOracleSql)),

    // ---- Decontamination panel (qx12): one verdict row per TRAIN
    // document across the three published contamination checks, each
    // at its deployable shape — (L) lexical: exact shared substring
    // >= 8 tokens vs any eval doc (qt35's anchored-diagonal machinery
    // — gram-hash equi-join, never all-pairs), (B) bag: token-SET
    // identity with an eval doc (order/repetition-insensitive copies
    // the substring check can miss — one md5 signature per doc, train
    // side probes a broadcast of the eval signature set), (S)
    // semantic: paraphrase-level similarity >= 0.42 to any eval
    // vector (qs31's every-corpus-row contract). The three arms
    // genuinely disagree on this corpus (each catches documents the
    // other two miss — the reason production release gates run ALL
    // three), and the flag attach is three left joins of hit-sets
    // AQE sizes as broadcasts. 100 TB: L and B are equi-joins against
    // eval-sized builds, S is the documented eval-sized broadcast
    // cross join — nothing corpus-quadratic anywhere. ----
    QueryDef("qx12_decontamination_panel",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("split",
          TextOps.hashSplit(col("doc_id"), Seq(90), Seq("train", "eval")))
        val train = docs.filter(col("split") === "train")
        val evalD = docs.filter(col("split") === "eval")
        val lex = graft.text.Decontaminate.longestSharedRun(
            train, evalD, "text", "doc_id", anchor = 5)
          .filter(col("max_run_tok") >= 8)
          .select(col("train_id").as("doc_id")).distinct()
          .withColumn("lexical_hit", lit(true))
        val sigs = docs.select(col("doc_id"), col("split"),
          md5(concat_ws(" ", Dedup.tokenSet(col("text")))).as("set_sig"))
        val bag = sigs.filter(col("split") === "train")
          .join(broadcast(sigs.filter(col("split") === "eval")
            .select(col("set_sig")).distinct()), "set_sig")
          .select(col("doc_id")).distinct()
          .withColumn("bag_hit", lit(true))
        val emb = t(s, dir, "embeddings")
          .join(docs.select(col("doc_id"), col("split")),
            col("vec_id") === col("doc_id"))
        val sem = Similarity.semanticContaminated(
            emb.filter(col("split") === "train")
              .select(col("vec_id"), col("embedding")),
            emb.filter(col("split") === "eval")
              .select(col("vec_id").as("eval_id"),
                col("embedding").as("ee")),
            "vec_id", "embedding", "eval_id", "ee", threshold = 0.42)
          .filter(col("contaminated"))
          .select(col("vec_id").as("doc_id"))
          .withColumn("semantic_hit", lit(true))
        train.select(col("doc_id"))
          .join(lex, Seq("doc_id"), "left")
          .join(bag, Seq("doc_id"), "left")
          .join(sem, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("lexical_hit"), lit(false)).as("lexical_hit"),
            coalesce(col("bag_hit"), lit(false)).as("bag_hit"),
            coalesce(col("semantic_hit"), lit(false)).as("semantic_hit"))
          .withColumn("dropped",
            col("lexical_hit") || col("bag_hit") || col("semantic_hit"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d0 AS (SELECT doc_id, string_split($normSql, ' ') AS toks,
            (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90) AS is_train
          FROM documents),
        g AS (SELECT doc_id, is_train, toks,
            unnest(generate_series(1, len(toks) - 5 + 1)) AS i
          FROM d0 WHERE len(toks) >= 5),
        pg AS (SELECT doc_id, is_train, i - 1 AS pos,
            ('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))::BIGINT AS g
          FROM g),
        tr AS (SELECT doc_id AS train_id, pos AS tpos, g FROM pg WHERE is_train),
        ev AS (SELECT doc_id AS eval_id, pos AS epos, g FROM pg WHERE NOT is_train),
        m AS (SELECT train_id, eval_id, tpos, tpos - epos AS diag
          FROM tr JOIN ev USING (g)),
        isl AS (SELECT train_id, eval_id, diag, tpos,
            tpos - ROW_NUMBER() OVER (PARTITION BY train_id, eval_id, diag
              ORDER BY tpos) AS island
          FROM m),
        rn AS (SELECT train_id, eval_id, COUNT(*) AS n_anchor
          FROM isl GROUP BY train_id, eval_id, diag, island),
        lex AS (SELECT DISTINCT train_id AS doc_id FROM rn
          GROUP BY train_id, eval_id HAVING MAX(n_anchor) + 4 >= 8),
        sig AS (SELECT doc_id, is_train,
            md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS set_sig
          FROM d0),
        bag AS (SELECT DISTINCT t.doc_id FROM sig t JOIN sig e USING (set_sig)
          WHERE t.is_train AND NOT e.is_train),
        spl AS (SELECT doc_id, is_train FROM d0),
        eve AS (SELECT e.vec_id AS eval_id, e.embedding AS ee
          FROM embeddings e JOIN spl ON spl.doc_id = e.vec_id
          WHERE NOT spl.is_train),
        tre AS (SELECT e.vec_id, e.embedding
          FROM embeddings e JOIN spl ON spl.doc_id = e.vec_id
          WHERE spl.is_train),
        sc AS (SELECT tre.vec_id, eve.eval_id,
            list_reduce(list_transform(range(1, len(tre.embedding) + 1),
              i -> CAST(tre.embedding[i] AS DOUBLE) * CAST(eve.ee[i] AS DOUBLE)), (x,y) -> x+y)
            / (sqrt(list_reduce(list_transform(range(1, len(tre.embedding) + 1),
                i -> CAST(tre.embedding[i] AS DOUBLE) * CAST(tre.embedding[i] AS DOUBLE)), (x,y) -> x+y))
             * sqrt(list_reduce(list_transform(range(1, len(eve.ee) + 1),
                i -> CAST(eve.ee[i] AS DOUBLE) * CAST(eve.ee[i] AS DOUBLE)), (x,y) -> x+y))) AS cosine
          FROM tre CROSS JOIN eve),
        sem AS (SELECT DISTINCT vec_id AS doc_id FROM sc WHERE cosine >= 0.42)
        SELECT d0.doc_id,
          (lex.doc_id IS NOT NULL) AS lexical_hit,
          (bag.doc_id IS NOT NULL) AS bag_hit,
          (sem.doc_id IS NOT NULL) AS semantic_hit,
          (lex.doc_id IS NOT NULL OR bag.doc_id IS NOT NULL
            OR sem.doc_id IS NOT NULL) AS dropped
        FROM d0 LEFT JOIN lex ON lex.doc_id = d0.doc_id
          LEFT JOIN bag ON bag.doc_id = d0.doc_id
          LEFT JOIN sem ON sem.doc_id = d0.doc_id
        WHERE d0.is_train ORDER BY d0.doc_id""")),

    // ---- leakage-safe corpus split: the hash split keys on the
    // duplicate group's CANONICAL id, so copies of one document can
    // never straddle train/eval (the classic benchmark-leakage guard).
    // Composes qd1's group annotation with qt6's deterministic split;
    // the same pattern applies over dupClusters' cluster_id for
    // near-dup-safe splits. ----
    QueryDef("qt11_cluster_split",
      (s, dir) => {
        val ann = Dedup.exactDupAnnotate(
          t(s, dir, "documents"), "text", "doc_id")
        ann.select(col("doc_id"), col("canonical_id"),
            TextOps.hashSplit(col("canonical_id"), Seq(90, 95),
              Seq("train", "val", "test")).as("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, md5($normSql) AS content_hash FROM documents),
        a AS (SELECT doc_id,
            MIN(doc_id) OVER (PARTITION BY content_hash) AS canonical_id
          FROM d)
        SELECT doc_id, canonical_id,
          CASE WHEN ('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'train'
               WHEN ('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 95 THEN 'val'
               ELSE 'test' END AS split
        FROM a ORDER BY doc_id""")),

    // ---- PII redaction: the standard pre-training scrub pass. The
    // synthetic docs carry no PII, so deterministic markers (an email,
    // an IPv4, a phone-like digit run derived from doc_id) are grafted
    // onto the text IDENTICALLY in both engines; the redaction chain
    // (emails -> IPs -> phones, order part of the contract) and the
    // per-category counts then hash-check byte-for-byte. Patterns stay
    // in the Java-regex/RE2 shared subset so both engines run the same
    // automaton. Map-only codegen — linear at any scale. ----
    QueryDef("qt12_pii_redact",
      (s, dir) => {
        val pii = concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@ex"), (col("doc_id") % 7).cast("string"),
          lit(".com via 10."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 3) % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"),
          lit(" call 555-"), (col("doc_id") % 9000 + 1000).cast("string"))
        t(s, dir, "documents")
          .select(col("doc_id") +: (TextOps.piiCounts(pii) :+
            md5(TextOps.redactPii(pii)).as("redacted_md5")): _*)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH p AS (SELECT doc_id,
          text || ' contact u' || doc_id || '@ex' || (doc_id % 7) ||
            '.com via 10.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) ||
            '.' || ((doc_id * 7) % 256) || ' call 555-' || (doc_id % 9000 + 1000)
            AS pii
          FROM documents),
        r1 AS (SELECT doc_id, pii,
          regexp_replace(pii, '${TextOps.EmailRe}', '<EMAIL>', 'g') AS after_email
          FROM p),
        r2 AS (SELECT doc_id, pii, after_email,
          regexp_replace(after_email, '${TextOps.Ipv4Re}', '<IP>', 'g') AS after_ip
          FROM r1)
        SELECT doc_id,
          CAST(len(regexp_extract_all(pii, '${TextOps.EmailRe}')) AS INT) AS n_email,
          CAST(len(regexp_extract_all(after_email, '${TextOps.Ipv4Re}')) AS INT) AS n_ip,
          CAST(len(regexp_extract_all(after_ip, '${TextOps.PhoneRe}')) AS INT) AS n_phone,
          md5(regexp_replace(after_ip, '${TextOps.PhoneRe}', '<PHONE>', 'g')) AS redacted_md5
        FROM r2 ORDER BY doc_id""")),

    // ---- exact dedup: hash-group annotation ----
    QueryDef("qd1_exact_dedup",
      (s, dir) => Dedup.exactDupAnnotate(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("content_hash"), col("canonical_id"),
          col("group_size"))
        .orderBy(col("doc_id")),
      Some(s"""WITH d AS (SELECT doc_id, md5($normSql) AS content_hash FROM documents)
        SELECT doc_id, content_hash,
          MIN(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
          COUNT(*) OVER (PARTITION BY content_hash) AS group_size
        FROM d ORDER BY doc_id""")),

    // ---- Streaming dedup-on-ingest, oracled against batch semantics
    // (St4 + the streaming arm of qd1): replay `documents` through the
    // file source under Trigger.AvailableNow, drop duplicate
    // fingerprints within the watermark horizon
    // (dropDuplicatesWithinWatermark state machine), land survivors in
    // a memory sink. One replay inside one horizon leaves exactly ONE
    // row per content_hash; WHICH row survives is arrival-order
    // dependent, so the query emits only group-invariant columns (the
    // fingerprint and the normalized length — identical across every
    // member of a hash group by construction), making the streaming
    // path's semantics exactly equal to batch DISTINCT and hash-
    // checkable by the oracle. ----
    QueryDef("qst1_stream_dedup",
      (s, dir) => {
        val stream = replayTable(s, dir, "documents")
          .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        val out = graft.streaming.StreamDedup
          .exactDedupStream(stream, "text", "ts", watermark = "1 hour")
          .select(col("content_hash"),
            length(TextOps.norm(col("text"))).cast("int").as("norm_len"))
        runAvailableNow(s, out).orderBy(col("content_hash"))
      },
      Some(s"""SELECT DISTINCT md5($normSql) AS content_hash,
          CAST(length($normSql) AS INT) AS norm_len
        FROM documents ORDER BY content_hash""")),

    // ---- Streaming sessionization ≡ batch (W7's streaming twin,
    // oracled): replay `events` through the file source plus a
    // far-future sentinel stream, run the flatMapGroupsWithState
    // session fold under Trigger.AvailableNow, and check the emitted
    // sessions against the SAME oracle as batch q30. The sentinel (one
    // event from a fake user, past every real session's gap horizon +
    // the watermark delay) advances the final watermark far enough that
    // the trailing no-data batch fires the event-time timeout for every
    // real open session — so the streaming path emits exactly the batch
    // session set, deterministically, with no reliance on which session
    // a closing event happens to share a micro-batch with. session_id
    // (the batch ordinal) is assigned post-collect by start time. ----
    QueryDef("qst2_stream_sessionize",
      (s, dir) => {
        import s.implicits._
        val sent = Seq(-1L).toDF("user_id")
          .select(col("user_id"), timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent, "user_id LONG, ts TIMESTAMP") { sentArm =>
          val stream = replayEvents(s, dir).select(col("user_id"), col("ts"))
            .unionByName(sentArm)
            .withColumn("value", lit(0.0))
            .as[graft.streaming.Sessionize.Event]
          val sessions = graft.streaming.Sessionize
            .sessionsStream(stream, gapSeconds = 1800, watermark = "1 hour")
          val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
          runAvailableNow(s, sessions.toDF())
            .filter(col("user_id") >= 0)
            .withColumn("session_id", row_number().over(w).cast("long"))
            .select(col("user_id"), col("session_id"),
              col("n_events").cast("long").as("n_events"),
              col("start_us"), col("end_us"))
            .orderBy(col("user_id"), col("session_id"))
        }
      },
      Some("""WITH g AS (
          SELECT user_id, event_id, ts,
            epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS gap_us
          FROM events),
        m AS (
          SELECT user_id, ts,
            CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM g)
        SELECT user_id, session_id, COUNT(*) AS n_events,
          MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
        FROM m GROUP BY user_id, session_id
        ORDER BY user_id, session_id""")),

    // ---- Streaming tumbling-window resample ≡ batch (the W7 windowed
    // aggregation under watermark + append mode, oracled against the
    // SAME SQL as batch q15): replay `events` plus a far-future
    // sentinel; once the final watermark passes every real window's
    // end, append mode has emitted each finalized (hour, event_type)
    // row exactly once — the sentinel's own window never finalizes, so
    // it drops out by construction. The sum aggregates DECIMAL(18,4)
    // (exact, order-free) and casts to double only at the end, same as
    // the batch twin. ----
    QueryDef("qst3_stream_resample",
      (s, dir) => {
        import s.implicits._
        val sent = Seq("__sentinel__").toDF("event_type")
          .select(col("event_type"), timestamp_micros(lit(SentinelUs)).as("ts"),
            lit(0.0).as("value"))
        withSentinelStream(s, sent,
          "event_type STRING, ts TIMESTAMP, value DOUBLE") { sentArm =>
          val agg = replayEvents(s, dir)
            .select(col("event_type"), col("ts"), col("value"))
            .unionByName(sentArm)
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(DecimalType(18, 4)))
                .cast("double").as("sum_value"))
            .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("hour"),
              col("event_type"), col("n"), col("sum_value"))
          runAvailableNow(s, agg)
            .filter(col("event_type") =!= "__sentinel__")
            .orderBy(col("hour"), col("event_type"))
        }
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- Streaming enrichment pipeline ≡ batch: the stream-STATIC
    // join (the most common production streaming shape — events
    // enriched against a dimension table inside the micro-batch, no
    // state) feeding a watermarked tumbling-window aggregate in append
    // mode. The dim side is a plain batch DataFrame (Spark replicates
    // it per micro-batch; broadcast-sized here, and at lake scale a
    // stream-static join stays the right tool for slowly-changing
    // dims). Sentinel flush as qst3; the sentinel's unmatched user
    // lands in 'UNKNOWN' but its window never finalizes, so it drops
    // out by construction. Oracled against the equivalent batch
    // left-join + group-by. ----
    QueryDef("qst4_stream_enrich",
      (s, dir) => {
        import s.implicits._
        val sent = Seq(-1L).toDF("user_id")
          .select(col("user_id"), timestamp_micros(lit(SentinelUs)).as("ts"),
            lit(0.0).as("value"))
        withSentinelStream(s, sent,
          "user_id LONG, ts TIMESTAMP, value DOUBLE") { sentArm =>
          val dim = t(s, dir, "customer")
            .select(col("c_custkey").as("user_id"),
              col("c_mktsegment").as("segment"))
          val agg = replayEvents(s, dir)
            .select(col("user_id"), col("ts"), col("value"))
            .unionByName(sentArm)
            .join(dim, Seq("user_id"), "left")
            .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("segment"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(DecimalType(18, 4)))
                .cast("double").as("sum_value"))
            .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("hour"),
              col("segment"), col("n"), col("sum_value"))
          runAvailableNow(s, agg).orderBy(col("hour"), col("segment"))
        }
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2 ORDER BY hour, segment""")),

    // ---- Streaming STREAM-STREAM join ≡ batch: the remaining
    // streaming join class — both sides are unbounded, state on each
    // side evicted by watermark + the event-time range bound. Signup →
    // purchase conversion within 30 minutes per user: equi-join on
    // user_id with a two-sided time-range condition, exactly the shape
    // Spark requires for bounded-state stream-stream joins. Inner join
    // results emit as matches arrive (no sentinel needed); the oracle
    // is the equivalent batch self-join. ----
    QueryDef("qst5_stream_join",
      (s, dir) => {
        def arm(tpe: String, pfx: String) = replayEvents(s, dir)
          .filter(col("event_type") === tpe)
          .select(col("user_id"), col("ts").as(s"${pfx}_ts"),
            col("event_id").as(s"${pfx}_id"))
          .withWatermark(s"${pfx}_ts", "1 hour")
        runAvailableNow(s,
            arm("signup", "s").as("l")
              .join(arm("purchase", "p").as("r"),
                expr("l.user_id = r.user_id AND " +
                  "s_ts <= p_ts AND p_ts <= s_ts + interval 30 minutes"))
              .select(col("l.user_id").as("user_id"), col("s_id"), col("p_id"),
                unix_micros(col("s_ts")).as("s_us"),
                unix_micros(col("p_ts")).as("p_us")))
          .orderBy(col("s_id"), col("p_id"))
      },
      Some("""SELECT s.user_id, s.event_id AS s_id, p.event_id AS p_id,
          epoch_us(s.ts) AS s_us, epoch_us(p.ts) AS p_us
        FROM events s JOIN events p ON p.user_id = s.user_id
          AND s.event_type = 'signup' AND p.event_type = 'purchase'
          AND s.ts <= p.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
        ORDER BY s_id, p_id""")),

    // ---- Streaming LEFT-OUTER stream-stream join ≡ batch: the
    // remaining stream-stream semantics class — unmatched signups must
    // be EMITTED (with null purchase), which the engine can only do
    // once the watermark proves no matching purchase can still arrive,
    // i.e. at left-side state eviction. Spark's global watermark is the
    // MIN across inputs, so the far-future sentinel rides BOTH arms
    // (one signup row, one purchase row, user_id = -1): each arm's
    // watermark jumps past every real signup's s_ts + 30min bound and
    // the no-data final batch flushes all unmatched state. The two
    // sentinel rows join each other and are dropped by the user_id >= 0
    // filter. A null p_id occurs only on a signup with zero matches —
    // then it is that s_id's only row — so ORDER BY (s_id, p_id) stays
    // total despite engines disagreeing on null sort order. The batch
    // oracle filters each side in a subquery, NOT the ON clause (an
    // ON-clause predicate on the left table would not restrict left
    // rows under LEFT JOIN). ----
    QueryDef("qst6_stream_join_outer",
      (s, dir) => {
        import s.implicits._
        val sent = Seq((-1L, -1L, "signup"), (-1L, -2L, "purchase"))
          .toDF("user_id", "event_id", "event_type")
          .select(col("user_id"), col("event_id"), col("event_type"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "user_id LONG, event_id LONG, event_type STRING, ts TIMESTAMP") { sentArm =>
          val base = replayEvents(s, dir)
            .select(col("user_id"), col("event_id"), col("event_type"),
              col("ts"))
            .unionByName(sentArm)
          def arm(tpe: String, pfx: String) = base
            .filter(col("event_type") === tpe)
            .select(col("user_id"), col("ts").as(s"${pfx}_ts"),
              col("event_id").as(s"${pfx}_id"))
            .withWatermark(s"${pfx}_ts", "1 hour")
          runAvailableNow(s,
              arm("signup", "s").as("l")
                .join(arm("purchase", "p").as("r"),
                  expr("l.user_id = r.user_id AND " +
                    "s_ts <= p_ts AND p_ts <= s_ts + interval 30 minutes"),
                  "left_outer")
                .select(col("l.user_id").as("user_id"), col("s_id"),
                  col("p_id"), unix_micros(col("s_ts")).as("s_us"),
                  unix_micros(col("p_ts")).as("p_us")))
            .filter(col("user_id") >= 0)
            .orderBy(col("s_id"), col("p_id"))
        }
      },
      Some("""SELECT s.user_id, s.event_id AS s_id, p.event_id AS p_id,
          epoch_us(s.ts) AS s_us, epoch_us(p.ts) AS p_us
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON p.user_id = s.user_id
          AND s.ts <= p.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
        ORDER BY s_id, p_id""")),

    // ---- Streaming FULL-OUTER stream-stream join ≡ batch, completing
    // the join trilogy (qst5 inner, qst6 left-outer): unmatched rows
    // must be emitted from BOTH sides at watermark expiry — signups
    // with null purchase AND purchases with null signup. Same
    // both-sides sentinel as qst6 (the global watermark is the min
    // across inputs). New determinism wrinkle: a null s_id row is NOT
    // unique per s_id anymore (every orphan purchase shares s_id =
    // null), and Spark sorts nulls first while DuckDB sorts them last —
    // so both engines order by COALESCE(id, -1) instead (real ids are
    // >= 0, so -1 cannot collide). ----
    QueryDef("qst7_stream_join_full",
      (s, dir) => {
        import s.implicits._
        val sent = Seq((-1L, -1L, "signup"), (-1L, -2L, "purchase"))
          .toDF("user_id", "event_id", "event_type")
          .select(col("user_id"), col("event_id"), col("event_type"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "user_id LONG, event_id LONG, event_type STRING, ts TIMESTAMP") { sentArm =>
          val base = replayEvents(s, dir)
            .select(col("user_id"), col("event_id"), col("event_type"),
              col("ts"))
            .unionByName(sentArm)
          def arm(tpe: String, pfx: String) = base
            .filter(col("event_type") === tpe)
            .select(col("user_id"), col("ts").as(s"${pfx}_ts"),
              col("event_id").as(s"${pfx}_id"))
            .withWatermark(s"${pfx}_ts", "1 hour")
          runAvailableNow(s,
              arm("signup", "s").as("l")
                .join(arm("purchase", "p").as("r"),
                  expr("l.user_id = r.user_id AND " +
                    "s_ts <= p_ts AND p_ts <= s_ts + interval 30 minutes"),
                  "full_outer")
                .select(
                  coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
                  col("s_id"), col("p_id"),
                  unix_micros(col("s_ts")).as("s_us"),
                  unix_micros(col("p_ts")).as("p_us")))
            .filter(col("user_id") >= 0)
            .orderBy(coalesce(col("s_id"), lit(-1L)),
              coalesce(col("p_id"), lit(-1L)))
        }
      },
      Some("""SELECT COALESCE(s.user_id, p.user_id) AS user_id,
          s.event_id AS s_id, p.event_id AS p_id,
          epoch_us(s.ts) AS s_us, epoch_us(p.ts) AS p_us
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON p.user_id = s.user_id
          AND s.ts <= p.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
        ORDER BY COALESCE(s.event_id, -1), COALESCE(p.event_id, -1)""")),

    // ---- Streaming decontamination ≡ batch (qt9's streaming twin):
    // filter-on-ingest — train docs arrive as a stream, the benchmark
    // (eval) gram set is STATIC and broadcast, the gram explode +
    // equi-join are stateless per micro-batch, and the per-doc shared-
    // gram count is a windowed aggregate flushed by the far-future
    // sentinel. State = (window × contaminated train ids), bounded by
    // the benchmark's reach, never the corpus; eval grams load once.
    // Same oracle as qt9/qt13/qt15 — the fourth point on the ladder is
    // the INGEST-TIME deployment shape. ----
    QueryDef("qst8_stream_decontaminate",
      (s, dir) => {
        import s.implicits._
        val sent = Seq(-1L).toDF("doc_id")
          .select(col("doc_id"), lit("").as("text"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "doc_id LONG, text STRING, ts TIMESTAMP") { sentArm =>
          val evalGrams = broadcast(
            t(s, dir, "documents")
              .withColumn("split", TextOps.hashSplit(col("doc_id"),
                Seq(90), Seq("train", "eval")))
              .filter(col("split") === "eval")
              .select(explode(graft.functions.WordNgramHashes
                .word_ngram_hashes(col("text"), 8)).as("g"))
              .distinct())
          val out = replayTable(s, dir, "documents")
            .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
            .withColumn("split", TextOps.hashSplit(col("doc_id"),
              Seq(90), Seq("train", "eval")))
            .filter(col("split") === "train")
            .select(col("doc_id"), col("text"), col("ts"))
            .unionByName(sentArm)
            // watermark BEFORE the explode: the gramless sentinel row
            // still advances event time, then drops out of the plan
            .withWatermark("ts", "1 hour")
            .select(col("doc_id").as("train_id"), col("ts"),
              explode(graft.functions.WordNgramHashes
                .word_ngram_hashes(col("text"), 8)).as("g"))
            .join(evalGrams, "g")
            .groupBy(window(col("ts"), "1 hour"), col("train_id"))
            .agg(count(lit(1)).as("n_shared_grams"))
            .select(col("train_id"), col("n_shared_grams"))
          runAvailableNow(s, out).orderBy(col("train_id"))
        }
      },
      Some(decontaminateSql)),

    // ---- Streaming dictionary quality ≡ batch (qt20's streaming
    // twin): score-on-ingest — documents arrive as a stream, the
    // corpus top-200 vocabulary is STATIC and broadcast once (built
    // from the existing corpus, the production deployment: the
    // dictionary predates the arriving batch), the token explode +
    // vocab attach are stateless per micro-batch, and the per-doc
    // counts are a windowed aggregate flushed by the far-future
    // sentinel. State = (window × doc) count rows for in-flight
    // windows only — bounded by a window's document arrivals, never
    // the corpus. Same oracle as qt20, so the driver gate pins
    // batch/stream arm-equivalence every round (the qst8 treatment
    // applied to the quality family). The sentinel's own 2100-dated
    // window never flushes (nothing advances the watermark past it),
    // so doc_id -1 stays out of the sink; the filter is defensive. ----
    QueryDef("qst9_stream_quality",
      (s, dir) => {
        import s.implicits._
        val sent = Seq(-1L).toDF("doc_id")
          .select(col("doc_id"), lit("").as("text"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "doc_id LONG, text STRING, ts TIMESTAMP") { sentArm =>
          val vocab = broadcast(
            graft.text.Vocab.topVocab(t(s, dir, "documents"), "text", 200)
              .select(col("term"), lit(true).as("in_vocab")))
          val out = replayTable(s, dir, "documents")
            .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
            .select(col("doc_id"), col("text"), col("ts"))
            .unionByName(sentArm)
            .withWatermark("ts", "1 hour")
            .select(col("doc_id"), col("ts"),
              explode(TextOps.tokens(col("text"))).as("term"))
            .join(vocab, Seq("term"), "left")
            .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
            .agg(count(lit(1)).as("n_tok_l"),
              sum(when(col("in_vocab"), 1L).otherwise(0L)).as("n_common_l"))
            .select(col("doc_id"),
              col("n_tok_l").cast("int").as("n_tok"),
              col("n_common_l").cast("int").as("n_common"),
              (col("n_common_l").cast("double") /
                col("n_tok_l").cast("double")).as("common_ratio"))
            .withColumn("keep", col("common_ratio") >= lit(0.8))
          runAvailableNow(s, out)
            .filter(col("doc_id") >= 0).orderBy(col("doc_id"))
        }
      },
      Some(vocabQualitySql)),

    // ---- Streaming ANN serving ≡ batch (qs24's streaming deployment,
    // the qst8/qst9 treatment applied to the serving stack): queries
    // ARRIVE as a stream, the index is the STATIC prebuilt artifact —
    // (id, cell, 16-byte codes), exactly what qx6 emits — and each
    // micro-batch expands queries into probed cells + per-query ADC
    // tables (one typed flatMap), candidate-joins the code-only index
    // on cell (stream-static equi-join), ADC-scores, and extracts
    // top-5 as a windowed aggregate (streaming forbids rank windows:
    // collect + array_sort by (−cosine, neighbor) + slice — the same
    // total order the batch row_number uses), flushed by the
    // far-future sentinel. State = in-flight (window × query)
    // candidate lists, never the corpus. Output is the actual served
    // top-5, hash-exact against qs24's probe+ADC oracle chain — the
    // driver gate pins batch/stream serving equivalence every round.
    // The sentinel's zero-vector query scores NaN (‖q‖ = 0) inside its
    // never-flushed 2100 window; the filter is defensive. ----
    QueryDef("qst10_stream_ann_serving",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
        val cells = Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 0)
        val index = Ivf.assign(e, "vec_id", "embedding", cells)
          .select(col("vec_id"),
            graft.sim.Pq.codes(col("embedding"), pq).as("codes"), col("cell"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // dim 64 is pinned by the m=16 × subDim=4 oracle CTEs already;
        // the sentinel only needs a length-valid vector
        val sent = Seq(-1L).toDF("query_id")
          .select(col("query_id"), array_repeat(lit(0.0f), 64).as("qe"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "query_id LONG, qe ARRAY<FLOAT>, ts TIMESTAMP") { sentArm =>
          val qs0 = replayTable(s, dir, "embeddings")
            .filter(col("vec_id") < 4)
            .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
            .select(col("vec_id").as("query_id"),
              col("embedding").as("qe"), col("ts"))
            .unionByName(sentArm)
          val out = Ivf.serveAdcStream(index, qs0, "vec_id",
            "query_id", "qe", "ts", cells, pq, k = 5, nprobe = 4)
          runAvailableNow(s, out)
            .filter(col("query_id") >= 0)
            .select(col("query_id"), posexplode(col("topk")))
            .select(col("query_id"),
              col("col.neighbor_id").as("neighbor_id"),
              (col("pos") + 1).cast("int").as("rank"))
            .orderBy(col("query_id"), col("rank"))
        }
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        cent AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        qp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN cent c) WHERE rk <= 4),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        pj AS (SELECT enc.vec_id, qp.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qp.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN ca ON ca.vec_id = enc.vec_id
          JOIN qp ON qp.cell = ca.cell AND enc.vec_id <> qp.query_id),
        p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM pj GROUP BY vec_id, query_id),
        p1 AS (SELECT p0.query_id, p0.neighbor_id,
            num / (sqrt(rn) * sqrt(qn.qnsq)) AS cosine
          FROM p0 JOIN qn ON qn.query_id = p0.query_id)
        SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM p1) WHERE rk <= 5
        ORDER BY query_id, rank""")),

    // ---- Streaming MEDIA dedup-on-ingest ≡ batch (the qst8/qst9/qst10
    // treatment applied to the multimodal column): media payloads
    // arrive as a stream, each micro-batch fingerprints them with the
    // SAME aHash kernel the batch path uses (Multimodal.aHashOf in a
    // typed map that carries the event-time column — no join-back, so
    // no stream-stream self-join), and identical-fingerprint arrivals
    // collapse in a sentinel-flushed windowed aggregate: per (window,
    // ahash) the canonical is MIN(media_id), n_copies the group size.
    // This is the exact-fingerprint ingest-time tier; near-dup pairs
    // at Hamming 1-3 remain qm8's batch job, by design. The sentinel's
    // empty payload hashes to null — it is NOT filtered before the
    // aggregate (the qst10 lesson: a deterministic filter pushed below
    // EventTimeWatermark starves the watermark) but groups under
    // (2100-window, null) which never flushes. Oracle: qm8's
    // closed-form code CTEs grouped by code. ----
    QueryDef("qst11_stream_media_dedup",
      (s, dir) => {
        import s.implicits._
        val media = AdvancedQueries.nearDupPpmsFromDocs(s, dir)
          .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
        val sent = Seq(-1L).toDF("media_id")
          .select(col("media_id"), lit(Array.empty[Byte]).as("bytes"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, media.unionByName(sent),
          "media_id LONG, bytes BINARY, ts TIMESTAMP") { stream =>
          val out = stream
            .as[(Long, Array[Byte], java.sql.Timestamp)]
            .map { case (id, b, ts) =>
              (id, graft.multimodal.Multimodal.aHashOf(b)._1, ts)
            }
            .toDF("media_id", "ahash", "ts")
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("ahash"))
            .agg(min(col("media_id")).as("canonical_id"),
              count(lit(1)).as("n_copies"))
            .select(col("ahash"), col("canonical_id"),
              col("n_copies").cast("int").as("n_copies"))
          // ahash IS NOT NULL must sit on the SINK side, not in the
          // streaming plan: as a deterministic predicate on a grouping
          // column Catalyst would push it through the aggregate and
          // below EventTimeWatermark, filtering the null-hashing
          // sentinel before its timestamp ever advances the watermark
          // (the qst10 starvation lesson). Post-sink it restores the
          // batch-path contract (hammingDupPairs drops null
          // fingerprints): non-decodable payloads flushing in a normal
          // window must not collapse into one fake dup group.
          runAvailableNow(s, out)
            .filter(col("ahash").isNotNull && col("canonical_id") >= 0)
            .orderBy(col("ahash"))
        }
      },
      Some("""WITH m AS (SELECT doc_id AS media_id, doc_id // 3 AS cid,
            doc_id % 3 AS delta, 1 + (doc_id // 3) % 3 AS k
          FROM documents),
        g AS (SELECT m.media_id, r.p,
            list_sum(list_transform(range(0, 3), c ->
              list_sum(list_transform(range(0, k * k), b ->
                LEAST(255, (cid * 31 + ((((r.p // 8) * k + b // k) * (8 * k)
                  + (r.p % 8) * k + (b % k)) * 3 + c) * 7) % 256 + delta)
              )) // (k * k)
            )) AS gray
          FROM m CROSS JOIN range(0, 64) r(p)),
        tt AS (SELECT media_id, SUM(gray) AS total FROM g GROUP BY media_id),
        codes AS (SELECT g.media_id, CAST(SUM(
            CASE WHEN g.gray * 64 > tt.total
              THEN CASE WHEN g.p = 63 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(g.p AS INT) END
              ELSE 0 END) AS BIGINT) AS code
          FROM g JOIN tt ON tt.media_id = g.media_id GROUP BY g.media_id)
        SELECT code AS ahash, MIN(media_id) AS canonical_id,
          CAST(COUNT(*) AS INT) AS n_copies
        FROM codes GROUP BY code ORDER BY ahash""")),

    // ---- Streaming TWO-STAGE retrieval ≡ batch (qst12): qs29's
    // composite on the qst10 deployment pattern. Queries ARRIVE as a
    // stream against the static 24 B/row code artifact; stage 1's
    // coarse cut is the BOUNDED top-k aggregate (ops/TopK) as a
    // windowed streaming aggregate — state is per in-flight
    // (window × query) buffers of ≤ coarseK entries, never the
    // corpus, and streaming forbids rank windows anyway, so the
    // scale-safe batch shape is the only expressible one; stage 2's
    // ADC shortlist is a stateless typed map over each flushed row
    // (LUT fold order identical to the batch scorer — ServingSpec
    // pins streamed shortlist ≡ batch stage 2 member-for-member);
    // stage 3's exact re-rank runs at the STATELESS EDGE downstream
    // of the sink — an id equi-join fetching floats for shortK·|Q|
    // FINAL rows only, exactly where a serving fleet puts its
    // re-ranker. Oracle is qs29's chain emitting the final ranked
    // rows, so the driver gate pins the whole stream+edge composition
    // against the batch composite every round. The sentinel's
    // zero-vector query scores NaN inside its never-flushed 2100
    // window; the filter is defensive. ----
    QueryDef("qst12_stream_two_stage",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val thr = Similarity.signThresholds(e, "vec_id", "embedding")
        val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
        val art = e.select(col("vec_id"),
            Similarity.signBits(col("embedding"), thr).as("bincode"),
            graft.sim.Pq.codes(col("embedding"), pq).as("pqcodes"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val sent = Seq(-1L).toDF("query_id")
          .select(col("query_id"), array_repeat(lit(0.0f), 64).as("qe"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "query_id LONG, qe ARRAY<FLOAT>, ts TIMESTAMP") { sentArm =>
          val qs0 = replayTable(s, dir, "embeddings")
            .filter(col("vec_id") < 4)
            .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
            .select(col("vec_id").as("query_id"),
              col("embedding").as("qe"), col("ts"))
            .unionByName(sentArm)
          val out = graft.sim.Serving.shortlistStream(art, qs0, "vec_id",
            "query_id", "qe", "ts", thr, pq, coarseK = 50, shortK = 20)
          val short = runAvailableNow(s, out).filter(col("query_id") >= 0)
          // the edge re-ranker: floats fetched for final rows only
          val floats = e.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("__nvec"))
          val qf = e.filter(col("vec_id") < 4)
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("neighbor_id"))
          short.select(col("query_id"),
              explode(col("shortlist")).as("neighbor_id"))
            .join(floats, "neighbor_id")
            .join(broadcast(qf), "query_id")
            .select(col("query_id"), col("neighbor_id"),
              Similarity.cosine(col("__nvec"), col("qe")).as("cosine"))
            .withColumn("rank", row_number().over(w))
            .filter(col("rank") <= 5)
            .select(col("query_id"), col("neighbor_id"),
              col("rank").cast("int").as("rank"))
            .orderBy(col("query_id"), col("rank"))
        }
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        smp AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256),
        thr AS (SELECT r.i,
            list_reduce(list(CAST(s.embedding[r.i] AS DOUBLE) ORDER BY s.vec_id),
              (x, y) -> x + y) / CAST(COUNT(*) AS DOUBLE) AS t
          FROM smp s CROSS JOIN range(1, 65) r(i) GROUP BY r.i),
        cbits AS (SELECT e.vec_id, CAST(SUM(
            CASE WHEN CAST(e.embedding[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS code
          FROM embeddings e CROSS JOIN thr GROUP BY e.vec_id),
        qbits AS (SELECT qv.query_id, CAST(SUM(
            CASE WHEN CAST(qv.qe[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS qcode
          FROM qv CROSS JOIN thr GROUP BY qv.query_id),
        c50 AS (SELECT query_id, neighbor_id FROM (
          SELECT qb.query_id, cb2.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY qb.query_id
              ORDER BY bit_count(xor(cb2.code, qb.qcode)), cb2.vec_id) AS rk
          FROM cbits cb2, qbits qb WHERE cb2.vec_id <> qb.query_id) WHERE rk <= 50),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        pj AS (SELECT enc.vec_id, qv.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qv.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN c50 ON c50.neighbor_id = enc.vec_id
          JOIN qv ON qv.query_id = c50.query_id),
        p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM pj GROUP BY vec_id, query_id),
        s20 AS (SELECT query_id, neighbor_id FROM (
          SELECT p0.query_id, p0.neighbor_id, ROW_NUMBER() OVER (PARTITION BY p0.query_id
            ORDER BY num / (sqrt(rn) * sqrt(qn.qnsq)) DESC, p0.neighbor_id) AS rk
          FROM p0 JOIN qn ON qn.query_id = p0.query_id) WHERE rk <= 20),
        x0 AS (SELECT s20.query_id, s20.neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM s20 JOIN embeddings e ON e.vec_id = s20.neighbor_id
          JOIN qv ON qv.query_id = s20.query_id)
        SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM x0) WHERE rk <= 5
        ORDER BY query_id, rank""")),

    // ---- Streaming IVF two-stage retrieval ≡ batch (qst13): qs32's
    // deployable composite on the stream — the best-of-both serving
    // stream. Where qst12's stage 1 must re-scan the whole code
    // artifact per micro-batch (no key to probe), here each query
    // expands into its nprobe=4 probed cells and the candidate
    // lookup is a stream-static EQUI-join on cell (the qst10 shape —
    // under ql5's cell-partitioned layout a probed read, not a
    // scan), the popcount rank within probed candidates is the
    // bounded windowed aggregate, the ADC shortlist the stateless
    // typed map, and the exact re-rank runs at the stateless edge
    // post-sink. Oracle: qs32's probe+bit+ADC chain emitting the
    // final ranked rows — the gate pins stream+edge ≡ batch every
    // round. ----
    QueryDef("qst13_stream_two_stage_ivf",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val thr = Similarity.signThresholds(e, "vec_id", "embedding")
        val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
        val cells = Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 0)
        val index = Ivf.assign(e, "vec_id", "embedding", cells)
          .select(col("vec_id"),
            Similarity.signBits(col("embedding"), thr).as("bincode"),
            graft.sim.Pq.codes(col("embedding"), pq).as("pqcodes"),
            col("cell"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val sent = Seq(-1L).toDF("query_id")
          .select(col("query_id"), array_repeat(lit(0.0f), 64).as("qe"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "query_id LONG, qe ARRAY<FLOAT>, ts TIMESTAMP") { sentArm =>
          val qs0 = replayTable(s, dir, "embeddings")
            .filter(col("vec_id") < 4)
            .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
            .select(col("vec_id").as("query_id"),
              col("embedding").as("qe"), col("ts"))
            .unionByName(sentArm)
          val out = graft.sim.Serving.shortlistStreamIvf(index, qs0,
            "vec_id", "query_id", "qe", "ts", cells, thr, pq,
            coarseK = 50, shortK = 20, nprobe = 4)
          val short = runAvailableNow(s, out).filter(col("query_id") >= 0)
          val floats = e.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("__nvec"))
          val qf = e.filter(col("vec_id") < 4)
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("neighbor_id"))
          short.select(col("query_id"),
              explode(col("shortlist")).as("neighbor_id"))
            .join(floats, "neighbor_id")
            .join(broadcast(qf), "query_id")
            .select(col("query_id"), col("neighbor_id"),
              Similarity.cosine(col("__nvec"), col("qe")).as("cosine"))
            .withColumn("rank", row_number().over(w))
            .filter(col("rank") <= 5)
            .select(col("query_id"), col("neighbor_id"),
              col("rank").cast("int").as("rank"))
            .orderBy(col("query_id"), col("rank"))
        }
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        smp AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256),
        thr AS (SELECT r.i,
            list_reduce(list(CAST(s.embedding[r.i] AS DOUBLE) ORDER BY s.vec_id),
              (x, y) -> x + y) / CAST(COUNT(*) AS DOUBLE) AS t
          FROM smp s CROSS JOIN range(1, 65) r(i) GROUP BY r.i),
        cbits AS (SELECT e.vec_id, CAST(SUM(
            CASE WHEN CAST(e.embedding[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS code
          FROM embeddings e CROSS JOIN thr GROUP BY e.vec_id),
        qbits AS (SELECT qv.query_id, CAST(SUM(
            CASE WHEN CAST(qv.qe[thr.i] AS DOUBLE) > thr.t
              THEN CASE WHEN thr.i = 64 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(thr.i - 1 AS INT) END
              ELSE 0::BIGINT END) AS BIGINT) AS qcode
          FROM qv CROSS JOIN thr GROUP BY qv.query_id),
        cent AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        qp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id ORDER BY
              list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
                   * (CAST(qv.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), (x, y) -> x + y),
              c.cell) AS rk
          FROM qv CROSS JOIN cent c) WHERE rk <= 4),
        seeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        cb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM seeds s CROSS JOIN range(0, 16) t(j)),
        enc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, cb.j, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(cb.j * 4 + i AS INT)] AS DOUBLE) - CAST(cb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              cb.code) AS rk
          FROM embeddings e CROSS JOIN cb) WHERE rk = 1),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        c50 AS (SELECT query_id, neighbor_id FROM (
          SELECT qp.query_id, cb2.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY qp.query_id
              ORDER BY bit_count(xor(cb2.code, qb.qcode)), cb2.vec_id) AS rk
          FROM cbits cb2 JOIN ca ON ca.vec_id = cb2.vec_id
          JOIN qp ON qp.cell = ca.cell AND cb2.vec_id <> qp.query_id
          JOIN qbits qb ON qb.query_id = qp.query_id) WHERE rk <= 50),
        pj AS (SELECT enc.vec_id, qv.query_id, enc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(qv.qe[CAST(enc.j * 4 + i AS INT)] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(cb.ce[i] AS DOUBLE) * CAST(cb.ce[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM enc JOIN cb ON cb.j = enc.j AND cb.code = enc.code
          JOIN c50 ON c50.neighbor_id = enc.vec_id
          JOIN qv ON qv.query_id = c50.query_id),
        p0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM pj GROUP BY vec_id, query_id),
        s20 AS (SELECT query_id, neighbor_id FROM (
          SELECT p0.query_id, p0.neighbor_id, ROW_NUMBER() OVER (PARTITION BY p0.query_id
            ORDER BY num / (sqrt(rn) * sqrt(qn.qnsq)) DESC, p0.neighbor_id) AS rk
          FROM p0 JOIN qn ON qn.query_id = p0.query_id) WHERE rk <= 20),
        x0 AS (SELECT s20.query_id, s20.neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(qv.qe) + 1),
                i -> CAST(qv.qe[i] AS DOUBLE) * CAST(qv.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM s20 JOIN embeddings e ON e.vec_id = s20.neighbor_id
          JOIN qv ON qv.query_id = s20.query_id),
        f5 AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM x0) WHERE rk <= 5)
  SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank FROM (
    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cosine DESC, neighbor_id) AS rk FROM x0) WHERE rk <= 5
  ORDER BY query_id, rank""")),

    // ---- Streamed token metering (qst14): the ingest-time budget
    // counter a corpus build runs continuously — documents ARRIVE as
    // a stream and per-language BPE token totals accumulate as a
    // windowed streaming aggregate, so mixture decisions (qt34's
    // budgets) read live denominators instead of a nightly batch
    // scan. The BPE count is the same codegen expression as the
    // batch rows, riding the stream scan (stateless, no UDF); state
    // is one row per in-flight (window, lang) — language-cardinality
    // sized, KBs at any corpus rate. Flush via the far-future
    // sentinel (qst9's pattern); oracled against the batch BPE chain
    // grouped by lang, so stream ≡ batch is pinned on the token
    // DENOMINATOR itself. ----
    QueryDef("qst14_stream_token_metering",
      (s, dir) => {
        import s.implicits._
        val sent = Seq(-1L).toDF("doc_id")
          .select(col("doc_id"), lit("").as("text"), lit("zz").as("lang"),
            timestamp_micros(lit(SentinelUs)).as("ts"))
        withSentinelStream(s, sent,
          "doc_id LONG, text STRING, lang STRING, ts TIMESTAMP") { sentArm =>
          val out = replayTable(s, dir, "documents")
            .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
            .select(col("doc_id"), col("text"), col("lang"), col("ts"))
            .unionByName(sentArm)
            .withWatermark("ts", "1 hour")
            .select(col("lang"), col("ts"),
              graft.functions.BpeEncode.bpe_token_count(col("text"))
                .as("n_tok"))
            .groupBy(window(col("ts"), "1 hour"), col("lang"))
            .agg(count(lit(1)).as("n_docs_l"),
              sum(col("n_tok")).as("tot_l"))
            .select(col("lang"), col("n_docs_l").cast("int").as("n_docs"),
              col("tot_l").cast("bigint").as("total_bpe_tok"))
          runAvailableNow(s, out)
            .filter(col("lang") =!= "zz").orderBy(col("lang"))
        }
      },
      Some(s"""WITH RECURSIVE $bpeCteSql
        SELECT d.lang, CAST(COUNT(*) AS INT) AS n_docs,
          CAST(SUM(bpe.n_tok_bpe) AS BIGINT) AS total_bpe_tok
        FROM documents d JOIN bpe ON bpe.doc_id = d.doc_id
        GROUP BY d.lang ORDER BY d.lang""")),

    // ---- token-set dedup: vocabulary-permutation duplicate groups ----
    QueryDef("qd2_tokenset_dedup",
      (s, dir) => Dedup.tokenSetGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("set_sig")),
      Some(s"""WITH d AS (SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(string_split($normSql, ' '))), ' ')) AS set_sig
          FROM documents)
        SELECT set_sig, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id,
          string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS member_ids
        FROM d GROUP BY set_sig HAVING COUNT(*) >= 2 ORDER BY set_sig""")),

    // ---- MinHash + LSH near-dup pairs, exact-Jaccard verified ----
    QueryDef("qd3_minhash_lsh",
      (s, dir) => Dedup.minhashPairs(t(s, dir, "documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"${minhashPairsSql()}\n        ORDER BY id_a, id_b")),

    // ---- the SAME MinHash/LSH semantics through the lake (shuffle)
    // verification arm: candidate pairs shuffle-join the per-doc token
    // set tables on id instead of broadcast-attaching them — the code
    // path a 100 TB corpus must run (the set table exceeds the
    // broadcast budget). Oracled against the identical SQL as qd3, so
    // the driver gate pins arm-equivalence every round — the same
    // treatment qd7/qt13 give their broadcast twins. ----
    QueryDef("qd9_minhash_lake",
      (s, dir) => Dedup.minhashPairs(t(s, dir, "documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.6, broadcastSets = false)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"${minhashPairsSql()}\n        ORDER BY id_a, id_b")),

    // ---- The hot-band skew guard, driver-oracled: same MinHash/LSH
    // semantics with band buckets > 8 docs DROPPED before candidate
    // generation (Dedup.capBuckets — aggregate + left_anti, never a
    // per-bucket window). On this template-heavy corpus the cap
    // genuinely trips (see qd13's histogram), so the oracle pins the
    // exact recall trade the guard makes, not a no-op path. ----
    QueryDef("qd12_minhash_capped",
      (s, dir) => Dedup.minhashPairs(t(s, dir, "documents"), "text", "doc_id",
          k = 16, bands = 4, threshold = 0.6, maxBucket = 8)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"${minhashPairsSql(maxBucket = 8)}\n        ORDER BY id_a, id_b")),

    // ---- The skew AUDIT the cap is chosen from: histogram of MinHash
    // band-bucket populations (bucket_size -> how many buckets). The
    // clique mass a given maxBucket would drop is exactly the tail of
    // this histogram — the measurement that turns the 100 TB hot-band
    // story from asserted to measured. ----
    QueryDef("qd13_band_skew_audit",
      (s, dir) => Dedup.minhashBandStats(t(s, dir, "documents"),
          "text", "doc_id", k = 16, bands = 4)
        .groupBy(col("n_docs").as("bucket_size"))
        .agg(count(lit(1)).as("n_buckets"))
        .orderBy(col("bucket_size")),
      Some(s"""WITH $minhashBandCtes,
        bs AS (SELECT b, bk, COUNT(*) AS n_docs FROM band GROUP BY b, bk)
        SELECT n_docs AS bucket_size, COUNT(*) AS n_buckets
        FROM bs GROUP BY n_docs ORDER BY bucket_size""")),

    // ---- Duplicate clusters: connected components over the qd3 pair
    // graph (min-label propagation on the Spark side, recursive-CTE
    // transitive closure in the oracle), with the canonical keep/drop
    // flag per doc — the decision step a dedup pipeline feeds into. ----
    QueryDef("qd6_dup_clusters",
      (s, dir) => Dedup.dupClusters(
          Dedup.minhashPairs(t(s, dir, "documents"), "text", "doc_id",
            k = 16, bands = 4, threshold = 0.6))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE p AS (${minhashPairsSql()}),
        und AS (SELECT id_a AS a, id_b AS b FROM p
          UNION ALL SELECT id_b AS a, id_a AS b FROM p),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
          FROM reach GROUP BY a),
        csz AS (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM lab GROUP BY cluster_id)
        SELECT l.doc_id, l.cluster_id, c.cluster_size,
          (l.doc_id = l.cluster_id) AS is_canonical
        FROM lab l JOIN csz c ON c.cluster_id = l.cluster_id
        ORDER BY doc_id""")),

    // ---- The curation composite: near-dup clusters -> keep canonical
    // docs -> absolute quality floor -> pack survivors into context
    // bins. One lazy plan composing four operator families (LSH dedup,
    // connected components, quality scoring, sequence packing) — the
    // end-to-end shape of a training-data build. ----
    QueryDef("qx3_curate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // the pair pipeline (the qd6 cost floor) materializes exactly
        // once; dupClusters is told so and skips its own checkpoint
        val pairs = Dedup.minhashPairs(docs, "text", "doc_id",
            k = 16, bands = 4, threshold = 0.6)
          .select(col("id_a"), col("id_b")) // slim before materializing
          .localCheckpoint()
        val clusters = Dedup.dupClusters(pairs, pairsMaterialized = true)
        val dropIds = clusters.filter(!col("is_canonical"))
          .select(col("doc_id"))
        val kept = docs.join(dropIds, Seq("doc_id"), "left_anti")
          .withColumn("quality", TextOps.qualityScore(col("text")))
          .filter(col("quality") >= 0.32)
        graft.text.Pack.packBins(kept, "doc_id",
            TextOps.tokenCountWs(col("text")), binTokens = 64, shards = 8)
          .withColumn("n_tok", col("n_tok").cast("int"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE p AS (${minhashPairsSql()}),
        und AS (SELECT id_a AS a, id_b AS b FROM p
          UNION ALL SELECT id_b AS a, id_a AS b FROM p),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
          FROM reach GROUP BY a),
        dropd AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id),
        kd AS (SELECT doc_id, text, $normSql AS norm FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM dropd)),
        kq AS (SELECT doc_id, norm,
            len(string_split(norm, ' ')) AS n_tok_ws,
            len(list_filter(string_split(norm, ' '),
              t -> list_contains(['the','a','of','and','to','is','in'], t))) AS n_stop,
            (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / length(text) AS punct
          FROM kd),
        kf AS (SELECT doc_id, CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tok,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM kq
          WHERE ((n_stop / n_tok_ws) * 2.0 + (1.0 - punct) +
            least(n_tok_ws, 100) / 100.0) / 4.0 >= 0.32),
        sh AS (SELECT doc_id, n_tok, h, CAST(h % 8 AS INT) AS shard FROM kf),
        c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM sh)
        SELECT doc_id, CAST(n_tok AS INT) AS n_tok, shard,
          CAST((cum - n_tok) // 64 AS BIGINT) AS bin,
          CAST(cum - n_tok AS BIGINT)
            - CAST((cum - n_tok) // 64 AS BIGINT) * 64 AS bin_offset
        FROM c ORDER BY doc_id""")),

    // ---- SimHash near-dup pairs (banded candidates, Hamming <= 3) ----
    QueryDef("qd4_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")),
      Some(simhashPairsSql)),

    // ---- the SAME SimHash semantics through the lake arm: the
    // fingerprint table shuffle-joins the deduped candidate pairs on id
    // instead of broadcast-attaching — the code path when the (doc,
    // simhash) table outgrows the broadcast budget. Identical oracle to
    // qd4, so the gate pins arm equivalence every round (the
    // qd7/qd9/qt13 treatment). ----
    QueryDef("qd11_simhash_lake",
      (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3, broadcastFingerprints = false)
        .orderBy(col("id_a"), col("id_b")),
      Some(simhashPairsSql)),

    // ---- word-bigram Jaccard near-dup pairs (inverted-index join) ----
    QueryDef("qd5_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 2, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b")),
      Some(ngramJaccardSql)),

    // ---- the SAME n-gram Jaccard semantics through the lake (shuffle)
    // arms: doc-freq ranked by inverted-index join + window instead of
    // a driver-broadcast vocabulary map, and gram-set verification via
    // shuffled equi-join instead of broadcast attach. This is the code
    // path a 100 TB corpus runs (vocabulary and set tables exceed the
    // driver/broadcast budget); oracled against the identical SQL as
    // qd5, so the driver gate pins arm-equivalence every round. ----
    QueryDef("qd7_ngram_jaccard_lake",
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 2, threshold = 0.5, broadcastSets = false, broadcastDocFreq = false)
        .orderBy(col("id_a"), col("id_b")),
      Some(ngramJaccardSql)),

    // ---- incremental dedup: flag a NEW batch (hash-split 10%) against
    // the EXISTING corpus (90%) — exact normalized-hash match plus
    // MinHash-band candidates verified at exact Jaccard >= 0.6. The
    // daily production shape: the corpus is touched only through
    // hash/band equi-joins, never re-paired with itself. ----
    QueryDef("qd8_incremental_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("part",
          TextOps.hashSplit(col("doc_id"), Seq(90), Seq("corpus", "batch")))
        Dedup.incrementalDupFlags(
            docs.filter(col("part") === "corpus"),
            docs.filter(col("part") === "batch"),
            "text", "doc_id", k = 16, bands = 4, threshold = 0.6)
          .orderBy(col("doc_id"))
      },
      Some(incrementalDupSql)),

    // ---- the SAME incremental-dedup semantics through the lake arm:
    // candidate (batch, corpus) pairs shuffle-join the per-doc token
    // set tables on id instead of broadcast-attaching them — the code
    // path when the accumulated corpus's set table exceeds the
    // broadcast budget (the daily-production regime this operator
    // exists for). Identical oracle to qd8, so the gate pins arm
    // equivalence every round (the qd7/qd9/qt13 treatment). ----
    QueryDef("qd10_incremental_lake",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("part",
          TextOps.hashSplit(col("doc_id"), Seq(90), Seq("corpus", "batch")))
        Dedup.incrementalDupFlags(
            docs.filter(col("part") === "corpus"),
            docs.filter(col("part") === "batch"),
            "text", "doc_id", k = 16, bands = 4, threshold = 0.6,
            broadcastSets = false)
          .orderBy(col("doc_id"))
      },
      Some(incrementalDupSql)),

    // ---- brute-force cosine top-k (ANN correctness baseline) ----
    // ANN QUERY-SET WIDTH CONTRACT (r15): every serving/recall row in
    // the qs/qst family pins its claim on the N = 4 queries
    // `vec_id < 4` (halved from 8 for bench stewardship — the recall
    // contract is per-query and the oracle recomputes every query's
    // exact value, so fewer queries narrow the sample without
    // weakening what is oracled; every measured lesson in the family
    // comments was re-derived at this width and none inverted).
    // qs31's eval set keeps its own width (decontamination-eval
    // semantics, not a recall sample). ----
    QueryDef("qs1_cosine_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        Similarity.bruteTopK(e, q, "vec_id", "embedding", "query_id", "qe", k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        sc AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
            list_reduce(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(q.qe) + 1),
                i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        r AS (SELECT query_id, neighbor_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM sc)
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
        FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ---- embedding near-dup pairs above a cosine threshold ----
    QueryDef("qs2_cosine_pairs",
      (s, dir) => Similarity.brutePairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.45)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            list_reduce(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, len(a.embedding) + 1),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, len(b.embedding) + 1),
                i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)))
            AS cosine
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.45
        ORDER BY id_a, id_b"""))
  )
}
