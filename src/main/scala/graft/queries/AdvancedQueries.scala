package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.adjust.Adjuster
import graft.dedup.Dedup
import graft.model.Tables
import graft.multimodal.Multimodal
import graft.ops.Skew
import graft.sim.{Ivf, Similarity}
import graft.text.TextOps

/** Driver-visible queries for the operators that live beyond plain SQL:
  * IVF / LSH approximate nearest neighbor, multimodal binary columns,
  * and skew-salted joins. Where the operator has an exact relational
  * contract (IVF at full probe ≡ brute force; salted join ≡ plain join;
  * format sniffing of constructed payloads) the oracle checks it
  * bit-for-bit; genuinely approximate paths (LSH buckets, partial-probe
  * IVF) are exposed rows-only.
  */
object AdvancedQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def dec4(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** Embeddings table width — fixed by the testdata generator; the LSH
    * oracle embeds per-dimension weight literals so it needs the dim
    * statically.
    */
  private val EmbeddingDim = 64

  /** DuckDB-side packed hyperplane bucket: the SAME ±1 md5-parity
    * weights the engine derives ([[graft.functions.HyperplanePack
    * .planeWeights]]) embedded as list literals, folded in the same
    * 0.0-seeded ascending-index order — buckets match the codegen
    * expression bit-for-bit.
    */
  private def lshBucketSql(vec: String, planes: Int, table: Int): String = {
    val w = graft.functions.HyperplanePack.planeWeights(planes, table, EmbeddingDim)
    (0 until planes).map { p =>
      val lits = w(p).map(x => if (x > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      s"(CASE WHEN list_reduce(list_transform(range(1, ${EmbeddingDim + 1}), " +
        s"i -> CAST($vec[i] AS DOUBLE) * CAST(($lits)[i] AS DOUBLE)), " +
        s"(x, y) -> x + y) > 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Exact cosine in DuckDB — same IEEE op sequence as
    * [[graft.sim.Similarity.cosine]] (qs4/qs5-validated form).
    */
  /** qs6's oracle CTE fragment (`b`/`cand`/`sc`, no WITH and no final
    * SELECT) — the multi-table LSH near-dup pair set, shared by qs6
    * (pairs) and qs9 (connected components over those pairs).
    */
  /** qs16's oracle chain — the two-layer unrolled Lloyd fit (iters=2)
    * ending in per-vector assignment `ca`, cell sizes `sz`, and the
    * one-row smallest-cell target `tg` — shared with qx6's composite.
    */
  private lazy val balancedSampleCtes: String =
    s"""seeds AS (SELECT embedding AS ce,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
        samp AS (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT 4096),
        a1 AS (SELECT vec_id, embedding, cell FROM (
          SELECT s.vec_id, s.embedding, c.cell,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id
              ORDER BY ${l2sqSql("s.embedding", "c.ce")}, c.cell) AS rk
          FROM samp s CROSS JOIN seeds c) WHERE rk = 1),
        a1d AS (SELECT a1.cell, a1.vec_id, t.i,
            CAST(a1.embedding[t.i] AS DOUBLE) AS v
          FROM a1, range(1, $EmbeddingDim + 1) t(i)),
        m1 AS (SELECT cell, i,
            list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y) / COUNT(*) AS cv
          FROM a1d GROUP BY cell, i),
        c1d AS (SELECT s.cell, t.i,
            COALESCE(m1.cv, CAST(s.ce[t.i] AS DOUBLE)) AS cv
          FROM seeds s CROSS JOIN range(1, $EmbeddingDim + 1) t(i)
          LEFT JOIN m1 ON m1.cell = s.cell AND m1.i = t.i),
        c1 AS (SELECT cell, list(cv ORDER BY i) AS ce FROM c1d GROUP BY cell),
        a2 AS (SELECT vec_id, embedding, cell FROM (
          SELECT s.vec_id, s.embedding, c.cell,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id
              ORDER BY ${l2sqSql("s.embedding", "c.ce")}, c.cell) AS rk
          FROM samp s CROSS JOIN c1 c) WHERE rk = 1),
        a2d AS (SELECT a2.cell, a2.vec_id, t.i,
            CAST(a2.embedding[t.i] AS DOUBLE) AS v
          FROM a2, range(1, $EmbeddingDim + 1) t(i)),
        m2 AS (SELECT cell, i,
            list_reduce(list(v ORDER BY vec_id), (x, y) -> x + y) / COUNT(*) AS cv
          FROM a2d GROUP BY cell, i),
        c2d AS (SELECT c.cell, t.i, COALESCE(m2.cv, c.ce[t.i]) AS cv
          FROM c1 c CROSS JOIN range(1, $EmbeddingDim + 1) t(i)
          LEFT JOIN m2 ON m2.cell = c.cell AND m2.i = t.i),
        cent AS (SELECT cell, list(cv ORDER BY i) AS ce FROM c2d GROUP BY cell),
        ca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${l2sqSql("e.embedding", "c.ce")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
        sz AS (SELECT cell, COUNT(*) AS cell_n FROM ca GROUP BY cell),
        tg AS (SELECT MIN(cell_n) AS target_n FROM sz)"""

  /** The salted-hash balanced-keep predicate over `ca`/`sz`/`tg`. */
  private lazy val balancedKeepSql: String =
    """('0x' || substr(md5('cluster:' || CAST(ca.vec_id AS VARCHAR)), 1, 15))::BIGINT
            % sz.cell_n < tg.target_n"""

  private lazy val lshNearDupCtes: String = {
    val nTables = 8
    val bucketCols = (0 until nTables).map(tb =>
      s"${lshBucketSql("embedding", planes = 4, table = tb)} AS b$tb").mkString(",\n          ")
    val anyMatch = (0 until nTables).map(tb => s"a.b$tb = c.b$tb").mkString(" OR ")
    s"""b AS (SELECT vec_id, embedding,
          $bucketCols
          FROM embeddings),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
          FROM b a JOIN b c ON ($anyMatch) AND a.vec_id < c.vec_id),
        sc AS (SELECT cand.id_a, cand.id_b,
            ${cosineSql("av.embedding", "bv.embedding")} AS cosine
          FROM cand
          JOIN b av ON av.vec_id = cand.id_a
          JOIN b bv ON bv.vec_id = cand.id_b)"""
  }

  /** qs15's oracle CTE fragment — the qs6 pair set with the hot-bucket
    * cap reproduced: wide per-table bucket columns unpivot to
    * (vec_id, bucket) rows keyed exactly like the engine
    * (`packed * tables + t`), buckets holding more than `cap` vectors
    * are dropped, and candidates join on the SURVIVING buckets only.
    */
  private def lshNearDupCappedCtes(cap: Int): String = {
    val nTables = 8
    val bucketCols = (0 until nTables).map(tb =>
      s"${lshBucketSql("embedding", planes = 4, table = tb)} AS b$tb").mkString(",\n          ")
    val bucketExprs = (0 until nTables).map(tb => s"b$tb * $nTables + $tb").mkString(", ")
    s"""b AS (SELECT vec_id, embedding,
          $bucketCols
          FROM embeddings),
        bkt AS (SELECT vec_id, unnest([$bucketExprs]) AS bucket FROM b),
        bsz AS (SELECT bucket, COUNT(*) AS n FROM bkt GROUP BY bucket),
        keep AS (SELECT bkt.vec_id, bkt.bucket FROM bkt
          JOIN bsz ON bsz.bucket = bkt.bucket WHERE bsz.n <= $cap),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
          FROM keep a JOIN keep c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
        sc AS (SELECT cand.id_a, cand.id_b,
            ${cosineSql("av.embedding", "bv.embedding")} AS cosine
          FROM cand
          JOIN b av ON av.vec_id = cand.id_a
          JOIN b bv ON bv.vec_id = cand.id_b)"""
  }

  /** Exact squared L2 distance in DuckDB — same IEEE op sequence as
    * [[graft.functions.NearestCell.compute]] / [[graft.sim.Ivf.l2sq]]
    * (sequential `(a-b)^2` accumulation over dims).
    */
  private def l2sqSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${EmbeddingDim + 1}),
        i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"""

  private def cosineSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)
      / (sqrt(list_reduce(list_transform(range(1, len($a) + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), (x, y) -> x + y))
       * sqrt(list_reduce(list_transform(range(1, len($b) + 1),
          i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)))"""

  /** Documents table dressed up as a media table: a real container magic
    * number (by doc_id mod 3) prepended to the utf-8 payload. Exercises
    * Spark's binary concat/substring path end-to-end without codecs.
    */
  private def mediaFromDocs(s: SparkSession, dir: String): DataFrame = {
    val png = lit(Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
    val jpg = lit(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte))
    val mp3 = lit(Array[Byte](0x49, 0x44, 0x33))
    val magic = when(col("doc_id") % 3 === 0, png)
      .when(col("doc_id") % 3 === 1, jpg)
      .otherwise(mp3)
    t(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      concat(magic, encode(col("text"), "UTF-8")).as("bytes"))
  }

  /** Genuine decodable media table: one well-formed image per document
    * — binary PPM (P6) for even ids (`4 + id%13 × 3 + id%7`),
    * uncompressed 24-bit BMP for odd ids (`4*(1 + (id/2)%4) ×
    * 2 + id%5`, width a multiple of 4 so the raster is stride-exact).
    * Raster byte i = `(id*31 + i*7) mod 256` in both containers, so
    * every decoded byte is recomputable in SQL and the oracle checks a
    * REAL decode (header parse + full raster sum) bit-for-bit without
    * any codec on either side.
    */
  private def pixmapsFromDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      if (id % 2 == 0) {
        val w = (4 + id % 13).toInt
        val h = (3 + id % 7).toInt
        val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
        val px = Array.tabulate[Byte](w * h * 3)(i =>
          ((id * 31 + i.toLong * 7) % 256).toByte)
        (id, header ++ px)
      } else {
        val w = (4 * (1 + (id / 2) % 4)).toInt
        val h = (2 + id % 5).toInt
        val n = w * h * 3
        val bmp = new Array[Byte](54 + n)
        def putU16(at: Int, v: Int): Unit = {
          bmp(at) = (v & 0xFF).toByte; bmp(at + 1) = ((v >> 8) & 0xFF).toByte
        }
        def putI32(at: Int, v: Int): Unit = {
          bmp(at) = (v & 0xFF).toByte
          bmp(at + 1) = ((v >> 8) & 0xFF).toByte
          bmp(at + 2) = ((v >> 16) & 0xFF).toByte
          bmp(at + 3) = ((v >> 24) & 0xFF).toByte
        }
        bmp(0) = 'B'; bmp(1) = 'M'
        putI32(2, 54 + n)  // file size
        putI32(10, 54)     // pixel-data offset
        putI32(14, 40)     // BITMAPINFOHEADER size
        putI32(18, w); putI32(22, h)
        putU16(26, 1)      // planes
        putU16(28, 24)     // bpp
        putI32(30, 0)      // BI_RGB
        putI32(34, n)      // image size
        var i = 0
        while (i < n) {
          bmp(54 + i) = ((id * 31 + i.toLong * 7) % 256).toByte; i += 1
        }
        (id, bmp)
      }
    }.toDF("media_id", "bytes")
  }

  /** PPM media whose dims are exact multiples of the qm6 box-fit scale:
    * k = 2 + id%3, raster 8k×4k with byte i = (id*31 + i*7) mod 256 —
    * fitDims(8k, 4k, 8, 8) = (8, 4), so the resample averages exact
    * k×k tiles and every output byte is closed-form recomputable.
    */
  private def gridPpmsFromDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val k = (2 + id % 3).toInt
      val w = 8 * k; val h = 4 * k
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = Array.tabulate[Byte](w * h * 3)(i =>
        ((id * 31 + i.toLong * 7) % 256).toByte)
      (id, header ++ px)
    }.toDF("media_id", "bytes")
  }

  /** PPM media with CONTROLLED near-duplicates for the perceptual-hash
    * row: content class cid = id/3 (three consecutive ids share one
    * base raster), per-member brightness delta = id%3 added to every
    * byte (saturating at 255), dims 8k×8k with k = 1 + cid%3 so the
    * aHash 8×8 grid averages exact k×k tiles. Brightness shifts move
    * every gray and the mean together, so class members differ by 0-2
    * aHash bits — genuine near-dups the banding must find — while
    * distinct base offsets (cid·31 mod 256 and k both vary by cid)
    * keep unrelated classes many bits apart. Classes whose (offset, k)
    * coincide (period lcm(256,3) in cid) are exact raster dups by
    * construction — correctly found, correctly oracled.
    */
  private[queries] def nearDupPpmsFromDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val cid = id / 3
      val delta = (id % 3).toInt
      val k = (1 + cid % 3).toInt
      val w = 8 * k; val h = 8 * k
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = Array.tabulate[Byte](w * h * 3)(i =>
        math.min(255L, (cid * 31 + i.toLong * 7) % 256 + delta).toByte)
      (id, header ++ px)
    }.toDF("media_id", "bytes")
  }

  /** PPM media with NON-DEGENERATE duplicate classes for the cluster
    * row: same 3-member brightness-shift classes as
    * [[nearDupPpmsFromDocs]], but the base pixel formula is the
    * QUADRATIC hash `((cid·31 + i·7 + 11)² / 32) % 256` instead of the
    * linear `(cid·31 + i·7) % 256`. The linear form is periodic in cid
    * mod 256, collapsing ~167 content classes onto 99 distinct aHash
    * codes (the measured degeneracy behind qx8's rejected cluster arm);
    * the squared form decorrelates classes — measured 168 distinct
    * codes over 168 classes at this SF, zero cross-class pairs at
    * Hamming ≤ 3, max band bucket 3 — so connected components over the
    * pair graph recover exactly the planted duplicate classes.
    */
  private def hashedDupPpmsFromDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val cid = id / 3
      val delta = (id % 3).toInt
      val k = (1 + cid % 3).toInt
      val w = 8 * k; val h = 8 * k
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = Array.tabulate[Byte](w * h * 3) { i =>
        val u = cid * 31 + i.toLong * 7 + 11
        math.min(255L, (u * u / 32) % 256 + delta).toByte
      }
      (id, header ++ px)
    }.toDF("media_id", "bytes")
  }

  /** WAV media with CONTROLLED near-duplicates for the audio-envelope
    * row — the [[nearDupPpmsFromDocs]] recipe on the time axis: content
    * class cid = id/3, member delta = id%3 added to every sample byte
    * (saturating), 8-bit mono with exactly 64·fm samples (fm =
    * 4 + cid%3) so every envelope frame is an exact fm-sample window.
    * A third of the payloads carry the junk LIST chunk so the pairs
    * row also exercises the chunk WALK.
    */
  private def nearDupWavsFromDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val cid = id / 3
      val delta = (id % 3).toInt
      val fm = (4 + cid % 3).toInt
      val data = Array.tabulate[Byte](64 * fm)(i =>
        math.min(255L, (cid * 37 + i.toLong * 13) % 256 + delta).toByte)
      (id, Multimodal.buildPcmWav(1, 8000, 8, data, junk = cid % 3 == 0))
    }.toDF("media_id", "bytes")
  }

  /** Documents table dressed up as a PCM audio table: every payload is
    * a well-formed RIFF/WAVE file with id-derived fmt metadata and
    * sample bytes, a third of them carrying a LIST junk chunk between
    * `fmt ` and `data` so the decoder's chunk WALK (not a fixed 44-byte
    * offset) is what the oracle pins.
    */
  private def wavsFromDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val ch = (1 + id % 2).toInt
      val sr = (8000 + (id % 4) * 4000).toInt
      val bits = (8 + 8 * ((id / 2) % 2)).toInt
      val data = Array.tabulate[Byte]((5 + id % 11).toInt * ch * (bits / 8))(
        i => ((id * 17 + i.toLong * 11) % 256).toByte)
      (id, Multimodal.buildPcmWav(ch, sr, bits, data, junk = id % 3 == 0))
    }.toDF("media_id", "bytes")
  }

  /** Documents table dressed up as PNG media: each payload is a real
    * 8-bit RGB PNG (zlib-deflated scanlines, CRC'd chunks) with
    * id-derived pixels and rows CYCLING all five PNG filter types —
    * the decoder must inflate and reverse every filter to reproduce
    * the oracle's closed-form pixel sum.
    */
  private def pngsFromDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val w = (3 + id % 8).toInt
      val h = (2 + id % 5).toInt
      (id, Multimodal.buildPng(w, h,
        i => ((id * 31 + i.toLong * 7) % 256).toInt, r => r % 5))
    }.toDF("media_id", "bytes")
  }

  /** qm8's closed-form aHash code chain (m → g → tt → codes) over
    * [[nearDupPpmsFromDocs]] — the CTE prefix shared by the media
    * banding rows (qm10 capped pairs, qm11 band audit).
    */
  private val mediaCodeCtes = """m AS (SELECT doc_id AS media_id, doc_id // 3 AS cid,
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
          FROM g JOIN tt ON tt.media_id = g.media_id GROUP BY g.media_id)"""

  /** The same chain over [[hashedDupPpmsFromDocs]]' quadratic pixel
    * hash — qm12's non-degenerate code table. The squared term is
    * inlined twice (DuckDB lambdas bind no locals); everything is
    * BIGINT-exact: u ≤ ~6.5e4 so u² ≤ ~4.2e9.
    */
  private val hashedMediaCodeCtes = """m AS (SELECT doc_id AS media_id, doc_id // 3 AS cid,
            doc_id % 3 AS delta, 1 + (doc_id // 3) % 3 AS k
          FROM documents),
        g AS (SELECT m.media_id, r.p,
            list_sum(list_transform(range(0, 3), c ->
              list_sum(list_transform(range(0, k * k), b ->
                LEAST(255,
                  ((cid * 31 + ((((r.p // 8) * k + b // k) * (8 * k)
                      + (r.p % 8) * k + (b % k)) * 3 + c) * 7 + 11)
                   * (cid * 31 + ((((r.p // 8) * k + b // k) * (8 * k)
                      + (r.p % 8) * k + (b % k)) * 3 + c) * 7 + 11)
                   // 32) % 256 + delta)
              )) // (k * k)
            )) AS gray
          FROM m CROSS JOIN range(0, 64) r(p)),
        tt AS (SELECT media_id, SUM(gray) AS total FROM g GROUP BY media_id),
        codes AS (SELECT g.media_id, CAST(SUM(
            CASE WHEN g.gray * 64 > tt.total
              THEN CASE WHEN g.p = 63 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(g.p AS INT) END
              ELSE 0 END) AS BIGINT) AS code
          FROM g JOIN tt ON tt.media_id = g.media_id GROUP BY g.media_id)"""

  val defs: Seq[QueryDef] = Seq(

    // ---- LSH ANN (hyperplane sign buckets): approximate vs brute
    // force, but DETERMINISTIC — the md5-parity hyperplanes are pure
    // arithmetic, so the oracle replays the exact bucket assignment
    // (same weights as list literals) and checks rows/schema/hash
    // bit-for-bit. Recall vs brute force is asserted in SimilaritySpec. ----
    QueryDef("qs4_lsh_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        Similarity.lshTopK(e, q, "vec_id", "embedding", "query_id", "qe",
            k = 5, planes = 6)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH b AS (SELECT vec_id, embedding,
          ${lshBucketSql("embedding", planes = 6, table = 0)} AS bucket
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS qb
          FROM b WHERE vec_id < 4),
        sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
            ${cosineSql("c.embedding", "q.qe")} AS cosine
          FROM b c JOIN q ON c.bucket = q.qb AND c.vec_id <> q.query_id),
        r AS (SELECT query_id, neighbor_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM sc)
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
        FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ---- Multi-table LSH ANN (OR-amplification): exact-oracled like
    // qs4 — candidates share a bucket in ANY of the 8 plane families
    // (OR chain over per-table bucket equalities), deduped, then exact
    // cosine rank. Recall dominance over single-table is asserted in
    // SimilaritySpec. ----
    QueryDef("qs5_lsh_multi_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        Similarity.lshTopKMulti(e, q, "vec_id", "embedding", "query_id", "qe",
            k = 5, planes = 4, tables = 8)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        val nTables = 8
        val bucketCols = (0 until nTables).map(tb =>
          s"${lshBucketSql("embedding", planes = 4, table = tb)} AS b$tb").mkString(",\n          ")
        val anyMatch = (0 until nTables).map(tb => s"c.b$tb = q.qb$tb").mkString(" OR ")
        val qAliases = (0 until nTables).map(tb => s"b$tb AS qb$tb").mkString(", ")
        s"""WITH b AS (SELECT vec_id, embedding,
          $bucketCols
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, $qAliases
          FROM b WHERE vec_id < 4),
        cand AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
          FROM b c JOIN q ON ($anyMatch) AND c.vec_id <> q.query_id),
        sc AS (SELECT cand.query_id, cand.neighbor_id,
            ${cosineSql("cv.embedding", "qv.embedding")} AS cosine
          FROM cand
          JOIN b cv ON cv.vec_id = cand.neighbor_id
          JOIN b qv ON qv.vec_id = cand.query_id),
        r AS (SELECT query_id, neighbor_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM sc)
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
        FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
      }),

    // ---- Embedding near-dup at lake scale: the LSH-bucketed twin of
    // qs2 — candidate pairs share a bucket in ANY of the 8 plane
    // families (bucket SELF-join, never all-pairs), deduped, then one
    // exact cosine check against the threshold. Exact-oracled like
    // qs4/qs5; recall vs the brute qs2 baseline is asserted in
    // SimilaritySpec. ----
    QueryDef("qs6_lsh_neardup",
      (s, dir) => Similarity.lshNearDupPairs(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.45, planes = 4, tables = 8)
        .orderBy(col("id_a"), col("id_b")),
      Some {
        s"""WITH $lshNearDupCtes
        SELECT id_a, id_b, cosine FROM sc WHERE cosine >= 0.45
        ORDER BY id_a, id_b"""
      }),

    // ---- qs6 with the hot-bucket guard engaged (Skew.capBuckets —
    // the same aggregate + left_anti cap the qd12 text arm pins): on
    // this corpus the 128 table-buckets range 16-53 vectors, so cap=32
    // genuinely drops the fat half and the oracle reproduces the exact
    // recall trade (a pair survives iff it shares a NON-oversized
    // bucket). The degenerate-cluster scenario this guards at 100 TB:
    // zero/constant embeddings collapsing one bucket per table into a
    // quadratic self-join. ----
    QueryDef("qs15_lsh_neardup_capped",
      (s, dir) => Similarity.lshNearDupPairs(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.45, planes = 4, tables = 8,
          maxBucket = 32)
        .orderBy(col("id_a"), col("id_b")),
      Some {
        s"""WITH ${lshNearDupCappedCtes(32)}
        SELECT id_a, id_b, cosine FROM sc WHERE cosine >= 0.45
        ORDER BY id_a, id_b"""
      }),

    // ---- SemDeDup-style semantic dedup: connected components over the
    // embedding near-dup pair graph (the qs6 LSH pair set), yielding
    // per-vector cluster id + the canonical keep/drop flag — exact
    // dedup's decision step lifted into embedding space, the semantic
    // half of a curation pipeline. Same star-contraction kernel as qd6
    // (dupClusters is id-agnostic); oracle = the qs6 pair CTEs feeding
    // the same recursive-CTE transitive closure as qd6's. ----
    QueryDef("qs9_semantic_dedup",
      (s, dir) => {
        val pairs = Similarity.lshNearDupPairs(t(s, dir, "embeddings"),
            "vec_id", "embedding", threshold = 0.45, planes = 4, tables = 8)
          .select(col("id_a"), col("id_b")) // slim before materializing
          .localCheckpoint()
        Dedup.dupClusters(pairs, pairsMaterialized = true)
          .select(col("doc_id").as("vec_id"), col("cluster_id"),
            col("cluster_size"), col("is_canonical"))
          .orderBy(col("vec_id"))
      },
      Some {
        s"""WITH RECURSIVE $lshNearDupCtes,
        p AS (SELECT id_a, id_b FROM sc WHERE cosine >= 0.45),
        und AS (SELECT id_a AS na, id_b AS nb FROM p
          UNION ALL SELECT id_b AS na, id_a AS nb FROM p),
        reach(na, nb) AS (
          SELECT na, nb FROM und
          UNION
          SELECT r.na, u.nb FROM reach r JOIN und u ON r.nb = u.na),
        lab AS (SELECT na AS vec_id, LEAST(na, MIN(nb)) AS cluster_id
          FROM reach GROUP BY na),
        csz AS (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM lab GROUP BY cluster_id)
        SELECT l.vec_id, l.cluster_id, c.cluster_size,
          (l.vec_id = l.cluster_id) AS is_canonical
        FROM lab l JOIN csz c ON c.cluster_id = l.cluster_id
        ORDER BY vec_id"""
      }),

    // ---- cluster-balanced sampling (Ivf.balancedSample): k-means
    // cluster assignment over the WHOLE corpus (an iters=2 fit), then
    // keep each vector with probability target/|cell| where target =
    // the smallest cell — every cluster contributes equally to the
    // sample. The oracle unrolls both Lloyd steps in SQL, one
    // (assign → id-ordered sequential float sums / count → COALESCE
    // an empty cell back to its old centroid) CTE layer per step —
    // bit-for-bit Ivf.fit's accumulation order and (distance, index)
    // tie rule, the one oracle of a Lloyd-refined Ivf.fit — then adds
    // the k-row size aggregate, the one-row min, and the salted-hash
    // threshold (qt14's pattern with a "cluster:" salt). Deterministic
    // throughout: totally-ordered assignment ties, exact-long modulo
    // compare, no RNG. ----
    QueryDef("qs16_cluster_balanced",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val lloyd = Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 2)
        Ivf.balancedSample(e, "vec_id", "embedding", lloyd)
          .orderBy(col("vec_id"))
      },
      Some {
        s"""WITH $balancedSampleCtes
        SELECT ca.vec_id, CAST(ca.cell AS INT) AS cell,
          CAST(sz.cell_n AS INT) AS cell_n,
          $balancedKeepSql AS keep
        FROM ca JOIN sz ON sz.cell = ca.cell CROSS JOIN tg
        ORDER BY ca.vec_id"""
      }),

    // ---- the EMBEDDING-side release composite (the vector analogue
    // of qx5's text recipe): semantic dedup (qs9's LSH pair graph +
    // transitive closure — drop non-canonical near-dups), cluster-
    // balanced mixing (qs16's keep), and the SERVING-GRADE PQ code
    // (qs22's m=16×k=256 — 16 bytes/vector at recall 0.85) composed
    // into one per-vector verdict + compressed representation — dedup,
    // mix, compress, the full corpus-to-index build emitting the
    // artifact qs22 actually serves from. Vectors in no near-dup
    // cluster are canonical by definition (LEFT JOIN + COALESCE true).
    // Oracle = the three proven CTE families chained (WITH RECURSIVE
    // for the closure; PQ CTEs renamed pseeds/pcb/penc to dodge the
    // Lloyd chain's names); per-stage flags stay visible. ----
    QueryDef("qx6_embedding_release",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val pairs = Similarity.lshNearDupPairs(e,
            "vec_id", "embedding", threshold = 0.45, planes = 4, tables = 8)
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val sem = Dedup.dupClusters(pairs, pairsMaterialized = true)
          .select(col("doc_id").as("vec_id"), col("is_canonical"))
        val lloyd = DataOpsQueries.inFitGroup("qx6-lloyd") {
          Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 2) }
        val bal = Ivf.balancedSample(e, "vec_id", "embedding", lloyd)
          .select(col("vec_id"), col("cell"), col("keep").as("b_keep"))
        val pq = DataOpsQueries.inFitGroup("qx6-pq") {
          graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256) }
        e.select(col("vec_id"),
            concat_ws(",", transform(
              graft.sim.Pq.codes(col("embedding"), pq),
              c => c.cast("string"))).as("pq_csv"))
          .join(bal, Seq("vec_id"))
          .join(sem, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            coalesce(col("is_canonical"), lit(true)).as("canonical"),
            col("b_keep"),
            (coalesce(col("is_canonical"), lit(true)) && col("b_keep"))
              .as("keep"),
            col("pq_csv"))
          .orderBy(col("vec_id"))
      },
      Some {
        s"""WITH RECURSIVE $lshNearDupCtes,
        p AS (SELECT id_a, id_b FROM sc WHERE cosine >= 0.45),
        und AS (SELECT id_a AS na, id_b AS nb FROM p
          UNION ALL SELECT id_b AS na, id_a AS nb FROM p),
        reach(na, nb) AS (
          SELECT na, nb FROM und
          UNION
          SELECT r.na, u.nb FROM reach r JOIN und u ON r.nb = u.na),
        lab AS (SELECT na AS vec_id, LEAST(na, MIN(nb)) AS cluster_id
          FROM reach GROUP BY na),
        $balancedSampleCtes,
        pseeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        pcb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS ce
          FROM pseeds s CROSS JOIN range(0, 16) t(j)),
        penc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, pcb.j, pcb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, pcb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(pcb.j * 4 + i AS INT)] AS DOUBLE) - CAST(pcb.ce[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(pcb.j * 4 + i AS INT)] AS DOUBLE) - CAST(pcb.ce[i] AS DOUBLE))),
                (x, y) -> x + y),
              pcb.code) AS rk
          FROM embeddings e CROSS JOIN pcb) WHERE rk = 1),
        pc AS (SELECT vec_id,
            string_agg(CAST(code AS VARCHAR), ',' ORDER BY j) AS pq_csv
          FROM penc GROUP BY vec_id)
        SELECT ca.vec_id, CAST(ca.cell AS INT) AS cell,
          COALESCE(l.vec_id = l.cluster_id, TRUE) AS canonical,
          $balancedKeepSql AS b_keep,
          COALESCE(l.vec_id = l.cluster_id, TRUE)
            AND ($balancedKeepSql) AS keep,
          pc.pq_csv
        FROM ca JOIN sz ON sz.cell = ca.cell CROSS JOIN tg
        JOIN pc ON pc.vec_id = ca.vec_id
        LEFT JOIN lab l ON l.vec_id = ca.vec_id
        ORDER BY ca.vec_id"""
      }),

    // ---- BUILD THEN SERVE (qx7) — the full lifecycle in one oracled
    // plan: qx6's release verdicts (semantic dedup ∧ cluster-balanced
    // keep) select the corpus, then qs24's end-state serving plan
    // (float cells + partial probe + ADC over 16-byte codes) answers
    // queries FROM THE RELEASED SET ONLY. Quantizer and coarse cells
    // are fit on the full corpus (the realistic split: models train
    // offline on a sample, the index holds the released vectors);
    // queries are arbitrary corpus vectors (a user queries anything).
    // Output is the actual served top-5 per query — hash-exact, no
    // recall harness: the serving ARITHMETIC is qs24's proven chain,
    // restricted by the release membership both engines derive
    // identically. A query whose probed cells hold no released vector
    // returns fewer rows in both engines alike. ----
    QueryDef("qx7_build_then_serve",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val pairs = Similarity.lshNearDupPairs(e,
            "vec_id", "embedding", threshold = 0.45, planes = 4, tables = 8)
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val sem = Dedup.dupClusters(pairs, pairsMaterialized = true)
          .select(col("doc_id").as("vec_id"), col("is_canonical"))
        val lloyd = DataOpsQueries.inFitGroup("qx7-lloyd") {
          Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 2) }
        val bal = Ivf.balancedSample(e, "vec_id", "embedding", lloyd)
          .select(col("vec_id"), col("keep").as("b_keep"))
        val released = e.join(bal, Seq("vec_id"))
          .join(sem, Seq("vec_id"), "left")
          .filter(coalesce(col("is_canonical"), lit(true)) && col("b_keep"))
          .select(col("vec_id"), col("embedding"))
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val pq = DataOpsQueries.inFitGroup("qx7-pq") {
          graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256) }
        val cells = DataOpsQueries.inFitGroup("qx7-cells") {
          Ivf.fit(e, "vec_id", "embedding", k = 8, iters = 0) }
        Ivf.topKAdc(released, q, "vec_id", "embedding",
            "query_id", "qe", cells, pq, k = 5, nprobe = 4)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("int").as("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        s"""WITH RECURSIVE $lshNearDupCtes,
        p AS (SELECT id_a, id_b FROM sc WHERE cosine >= 0.45),
        und AS (SELECT id_a AS na, id_b AS nb FROM p
          UNION ALL SELECT id_b AS na, id_a AS nb FROM p),
        reach(na, nb) AS (
          SELECT na, nb FROM und
          UNION
          SELECT r.na, u.nb FROM reach r JOIN und u ON r.nb = u.na),
        lab AS (SELECT na AS vec_id, LEAST(na, MIN(nb)) AS cluster_id
          FROM reach GROUP BY na),
        $balancedSampleCtes,
        rel AS (SELECT ca.vec_id
          FROM ca JOIN sz ON sz.cell = ca.cell CROSS JOIN tg
          LEFT JOIN lab l ON l.vec_id = ca.vec_id
          WHERE COALESCE(l.vec_id = l.cluster_id, TRUE)
            AND ($balancedKeepSql)),
        qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 4),
        vseeds AS (SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256)),
        vcb AS (SELECT t.j, s.code,
            list_slice(s.embedding, t.j * 4 + 1, t.j * 4 + 4) AS pe
          FROM vseeds s CROSS JOIN range(0, 16) t(j)),
        venc AS (SELECT vec_id, j, code FROM (
          SELECT e.vec_id, vcb.j, vcb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, vcb.j ORDER BY
              list_reduce(list_transform(range(1, 5),
                i -> (CAST(e.embedding[CAST(vcb.j * 4 + i AS INT)] AS DOUBLE) - CAST(vcb.pe[i] AS DOUBLE))
                   * (CAST(e.embedding[CAST(vcb.j * 4 + i AS INT)] AS DOUBLE) - CAST(vcb.pe[i] AS DOUBLE))),
                (x, y) -> x + y),
              vcb.code) AS rk
          FROM embeddings e JOIN rel ON rel.vec_id = e.vec_id
          CROSS JOIN vcb) WHERE rk = 1),
        sca AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${l2sqSql("e.embedding", "c.ce")}, c.cell) AS rk
          FROM embeddings e JOIN rel ON rel.vec_id = e.vec_id
          CROSS JOIN seeds c) WHERE rk = 1),
        sqp AS (SELECT query_id, qe, cell FROM (
          SELECT qv.query_id, qv.qe, c.cell,
            ROW_NUMBER() OVER (PARTITION BY qv.query_id
              ORDER BY ${l2sqSql("qv.qe", "c.ce")}, c.cell) AS rk
          FROM qv CROSS JOIN seeds c) WHERE rk <= 4),
        qn AS (SELECT query_id,
            list_reduce(list_transform(range(1, len(qe) + 1),
              i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y) AS qnsq
          FROM qv),
        spj AS (SELECT venc.vec_id, sqp.query_id, venc.j,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(sqp.qe[CAST(venc.j * 4 + i AS INT)] AS DOUBLE) * CAST(vcb.pe[i] AS DOUBLE)),
              (x, y) -> x + y) AS dotj,
            list_reduce(list_transform(range(1, 5),
              i -> CAST(vcb.pe[i] AS DOUBLE) * CAST(vcb.pe[i] AS DOUBLE)),
              (x, y) -> x + y) AS nrmj
          FROM venc JOIN vcb ON vcb.j = venc.j AND vcb.code = venc.code
          JOIN sca ON sca.vec_id = venc.vec_id
          JOIN sqp ON sqp.cell = sca.cell AND venc.vec_id <> sqp.query_id),
        sp0 AS (SELECT vec_id AS neighbor_id, query_id,
            list_reduce(list(dotj ORDER BY j), (x, y) -> x + y) AS num,
            list_reduce(list(nrmj ORDER BY j), (x, y) -> x + y) AS rn
          FROM spj GROUP BY vec_id, query_id),
        sp1 AS (SELECT sp0.query_id, sp0.neighbor_id,
            num / (sqrt(rn) * sqrt(qn.qnsq)) AS cosine
          FROM sp0 JOIN qn ON qn.query_id = sp0.query_id)
        SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM sp1) WHERE rk <= 5
        ORDER BY query_id, rank"""
      }),

    // ---- MULTIMODAL release verdict (qx8): the cross-modality
    // capstone — a document ships only if it is canonical in BOTH
    // modalities. Text: exact-dedup groups (qd1's kernel). Image:
    // exact-PERCEPTUAL-fingerprint groups — canonical = MIN media_id
    // per aHash code (qst11's proven semantics, batch side): two
    // images with identical 64-bit perceptual codes are the same
    // picture to the release, whatever their bytes. The near-dup
    // CLUSTER form (qm8 pairs + Dedup.dupClusters, the qs9 treatment)
    // was built and measured first and deliberately NOT shipped here:
    // on this fixture's degenerate code space (380 distinct codes
    // across 5000 images at sf0.1 — the synthetic byte formula is
    // periodic) the dist≤3 closure graph goes quadratically dense and
    // the contraction paid 70 s for fixture artifacts, not signal;
    // the exact-code group is the verdict the data actually supports.
    // Oracle: qm8's closed-form code CTEs grouped by code ∧ the qd1
    // content-hash group — the whole verdict recomputed from first
    // principles in SQL. ----
    QueryDef("qx8_multimodal_release",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val txt = Dedup.exactDupAnnotate(docs, "text", "doc_id")
          .select(col("doc_id"),
            (col("doc_id") === col("canonical_id")).as("text_canonical"))
        // the bare (media_id, ahash) fingerprint table — the join-back
        // form (aHash64) would put a second payload scan + join under a
        // consumer that only needs 8 bytes/image, the exact
        // inefficiency imageDupPairs/audioDupPairs shed in r11
        val media = nearDupPpmsFromDocs(s, dir)
        val codes = Multimodal.aHashTable(media)
          .select(col("media_id"), col("ahash"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("ahash"))
        val img = codes.filter(col("ahash").isNotNull)
          .withColumn("img_canonical",
            col("media_id") === min(col("media_id")).over(w))
          .select(col("media_id").as("m_id"), col("img_canonical"))
        docs.select(col("doc_id"))
          .join(txt, "doc_id")
          .join(img, col("doc_id") === col("m_id"), "left")
          .select(col("doc_id"), col("text_canonical"),
            coalesce(col("img_canonical"), lit(true)).as("image_canonical"))
          .withColumn("keep",
            col("text_canonical") && col("image_canonical"))
          .orderBy(col("doc_id"))
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
          FROM g JOIN tt ON tt.media_id = g.media_id GROUP BY g.media_id),
        ic AS (SELECT media_id,
            media_id = MIN(media_id) OVER (PARTITION BY code) AS img_canonical
          FROM codes),
        d AS (SELECT doc_id,
            md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
          FROM documents),
        tx AS (SELECT doc_id,
            doc_id = MIN(doc_id) OVER (PARTITION BY content_hash) AS text_canonical
          FROM d)
        SELECT t.doc_id, t.text_canonical,
          COALESCE(ic.img_canonical, TRUE) AS image_canonical,
          (t.text_canonical AND COALESCE(ic.img_canonical, TRUE)) AS keep
        FROM tx t LEFT JOIN ic ON ic.media_id = t.doc_id
        ORDER BY t.doc_id""")),

    // ---- MULTIMODAL release, NEAR-DUP arm (qx9): the cluster-based
    // verdict qx8 built and rejected on the linear fixture's code
    // degeneracy — now shippable because (a) the banding is capped
    // (qm10) and (b) the fixture artifact is fixed, not the operator
    // (hashedDupPpmsFromDocs decorrelates classes). Canonical-in-image
    // here means canonical of a Hamming-≤3 CLUSTER (capped
    // imageDupPairs → dupClusters — brightness-shifted variants
    // collapse even when their exact codes differ), composed with
    // qd1's exact text groups: a doc ships only if canonical in BOTH
    // modalities. Images in no pair (singleton classes) are their own
    // canonical via the COALESCE(TRUE), identically in both engines.
    // Oracle: the qm12 closure chain folded into the qx8 verdict
    // join — the whole near-dup verdict recomputed from first
    // principles. ----
    QueryDef("qx9_multimodal_release_neardup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val txt = Dedup.exactDupAnnotate(docs, "text", "doc_id")
          .select(col("doc_id"),
            (col("doc_id") === col("canonical_id")).as("text_canonical"))
        // pair pipeline materializes once; dupClusters is told so
        val pairs = Multimodal.imageDupPairs(hashedDupPpmsFromDocs(s, dir),
            maxDist = 3, maxBucket = 24)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint()
        val clusters = Dedup.dupClusters(pairs, pairsMaterialized = true)
          .select(col("doc_id").as("m_id"),
            col("is_canonical").as("img_canonical"))
        docs.select(col("doc_id"))
          .join(txt, "doc_id")
          .join(clusters, col("doc_id") === col("m_id"), "left")
          .select(col("doc_id"), col("text_canonical"),
            coalesce(col("img_canonical"), lit(true)).as("image_canonical"))
          .withColumn("keep",
            col("text_canonical") && col("image_canonical"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $hashedMediaCodeCtes,
        bands AS (SELECT media_id, code,
            ((code >> (16*b.b)) & 65535) * 4 + b.b AS band_key
          FROM codes CROSS JOIN range(0, 4) b(b)),
        bsz AS (SELECT band_key, COUNT(*) AS n FROM bands GROUP BY band_key),
        kept AS (SELECT bands.media_id, bands.code, bands.band_key
          FROM bands JOIN bsz ON bsz.band_key = bands.band_key
          WHERE bsz.n <= 24),
        pr AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
          FROM kept a JOIN kept b ON a.band_key = b.band_key
            AND a.media_id < b.media_id
          WHERE bit_count(xor(a.code, b.code)) <= 3),
        und AS (SELECT id_a AS a, id_b AS b FROM pr
          UNION ALL SELECT id_b AS a, id_a AS b FROM pr),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
          FROM reach GROUP BY a),
        ic AS (SELECT doc_id AS media_id,
            (doc_id = cluster_id) AS img_canonical FROM lab),
        d AS (SELECT doc_id,
            md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash
          FROM documents),
        tx AS (SELECT doc_id,
            doc_id = MIN(doc_id) OVER (PARTITION BY content_hash) AS text_canonical
          FROM d)
        SELECT t.doc_id, t.text_canonical,
          COALESCE(ic.img_canonical, TRUE) AS image_canonical,
          (t.text_canonical AND COALESCE(ic.img_canonical, TRUE)) AS keep
        FROM tx t LEFT JOIN ic ON ic.media_id = t.doc_id
        ORDER BY t.doc_id""")),

    // ---- Multimodal: container-format sniffing over binary payloads
    // (magic numbers constructed from documents — see mediaFromDocs) ----
    QueryDef("qm1_media_sniff",
      (s, dir) => mediaFromDocs(s, dir)
        .select(col("media_id"),
          Multimodal.sniffFormat(col("bytes")).as("format"),
          length(col("bytes")).as("n_bytes"))
        .orderBy(col("media_id")),
      Some("""SELECT doc_id AS media_id,
          CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'mp3' END AS format,
          CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8 ELSE 3 END + octet_length(encode(text)) AS n_bytes
          FROM documents ORDER BY media_id""")),

    // ---- Multimodal decode: batched mapPartitions over (id, bytes)
    // REALLY decoding two codec-free containers — each payload is a
    // well-formed binary PPM or uncompressed 24-bit BMP
    // (pixmapsFromDocs) whose header the decoder parses and whose full
    // raster it sums, so the oracle's closed-form recomputation of
    // every pixel byte hash-checks genuine decoded data, not header
    // echo. ----
    QueryDef("qm2_decode_batch",
      (s, dir) => Multimodal.decodeStub(pixmapsFromDocs(s, dir))
        .select(col("media_id"), col("codec"), col("decoded_width"),
          col("decoded_height"), col("decoded_bytes"), col("pix_sum"))
        .orderBy(col("media_id")),
      Some("""WITH m AS (SELECT doc_id AS media_id,
          CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS codec,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 13
               ELSE 4 * (1 + (doc_id // 2) % 4) END AS INT) AS w,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 3 + doc_id % 7
               ELSE 2 + doc_id % 5 END AS INT) AS h
          FROM documents)
        SELECT media_id, codec,
          w AS decoded_width, h AS decoded_height,
          CAST(w*h*3 AS BIGINT) AS decoded_bytes,
          CAST(list_sum(list_transform(range(0, w*h*3),
            i -> (media_id*31 + i*7) % 256)) AS BIGINT) AS pix_sum
        FROM m ORDER BY media_id""")),

    // ---- Multimodal per-channel statistics: the normalization-stats
    // stage after decode, over the SAME closed-form pixmaps as qm2 —
    // but channel-resolved, which makes it ORDER-SENSITIVE: BMP stores
    // BGR (bottom-up), so its decoded R channel reads file offset
    // 3p+2 while PPM's reads 3p. The oracle encodes exactly that
    // swap (r_off/b_off CASE on codec); a decoder that skipped the
    // BGR→RGB mapping would pass qm2's whole-raster sum and FAIL here.
    // Row reversal is invisible to sums/min/max, so bottom-up vs
    // top-down needs no oracle treatment. ----
    // ---- Perceptual image dedup (qm8): the image-modality analogue
    // of qd4's SimHash text dedup — aHash64 fingerprints (REAL decode
    // + the qm6 box-filter to 8×8 + above-mean bits) and the 4×16-bit
    // multi-index banded Hamming join. The ORACLE is the all-pairs
    // popcount join over closed-form recomputed codes (the qd4
    // treatment), so a green row simultaneously proves (a) the decode
    // → resample → threshold chain byte-for-byte, (b) the disjoint-bit
    // OR packing incl. the sign bit, and (c) the pigeonhole
    // completeness claim: Spark's band-bucket candidates must find
    // EVERY pair the oracle's exhaustive join finds at dist ≤ 3.
    // Fixture: 3-member brightness-shifted duplicate classes (see
    // nearDupPpmsFromDocs) — the cap on output volume is structural
    // (class size), not a tuning knob. ----
    QueryDef("qm8_image_phash_dedup",
      (s, dir) => Multimodal.imageDupPairs(nearDupPpmsFromDocs(s, dir),
          maxDist = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy(col("id_a"), col("id_b")),
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
        SELECT a.media_id AS id_a, b.media_id AS id_b,
          CAST(bit_count(xor(a.code, b.code)) AS INT) AS hamming
        FROM codes a JOIN codes b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.code, b.code)) <= 3
        ORDER BY id_a, id_b""")),

    // ---- Audio envelope dedup (qm9): qm8's perceptual-dedup recipe
    // on the time axis — audioHash64 splits the REAL-decoded PCM
    // sample stream into 64 frames, per-frame energy Σ|sample|, exact
    // above-mean bits (e_f·64 > Σe — gain-shift tolerant the way
    // aHash is brightness-tolerant), and the SAME shared banded
    // Hamming join (hammingDupPairs). Oracle: all-pairs popcount over
    // closed-form recomputed envelope codes, so decode, framing,
    // packing, AND banding completeness are all gate-checked. The
    // fixture's junk-chunk third means a green row also pins the
    // chunk walk inside the pairs pipeline. ----
    QueryDef("qm9_audio_envelope_dedup",
      (s, dir) => Multimodal.audioDupPairs(nearDupWavsFromDocs(s, dir),
          maxDist = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH m AS (SELECT doc_id AS media_id, doc_id // 3 AS cid,
            doc_id % 3 AS delta, 4 + (doc_id // 3) % 3 AS fm
          FROM documents),
        g AS (SELECT m.media_id, r.f,
            list_sum(list_transform(range(0, fm), b ->
              abs(LEAST(255, (cid * 37 + (r.f * fm + b) * 13) % 256 + delta) - 128)
            )) AS e
          FROM m CROSS JOIN range(0, 64) r(f)),
        tt AS (SELECT media_id, SUM(e) AS total FROM g GROUP BY media_id),
        codes AS (SELECT g.media_id, CAST(SUM(
            CASE WHEN g.e * 64 > tt.total
              THEN CASE WHEN g.f = 63 THEN -9223372036854775807::BIGINT - 1::BIGINT
                ELSE 1::BIGINT << CAST(g.f AS INT) END
              ELSE 0 END) AS BIGINT) AS code
          FROM g JOIN tt ON tt.media_id = g.media_id GROUP BY g.media_id)
        SELECT a.media_id AS id_a, b.media_id AS id_b,
          CAST(bit_count(xor(a.code, b.code)) AS INT) AS hamming
        FROM codes a JOIN codes b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.code, b.code)) <= 3
        ORDER BY id_a, id_b""")),

    // ---- The hot-bucket guard applied to the MEDIA modality (qm10):
    // qm8's banded-Hamming pairs with band buckets > 24 fingerprints
    // DROPPED before candidate generation (Skew.capBuckets through
    // hammingDupPairs — the qd12 treatment). On this fixture the cap
    // GENUINELY trips: the periodic pixel formula collapses ~167
    // content classes onto 99 codes, piling band buckets up to 30
    // members (see qm11's histogram), and capping at 24 drops 9 of the
    // 3352 uncapped pairs — so the oracle pins the exact recall trade
    // the guard makes, not a no-op path. Unlike the text arms this
    // oracle must REPRODUCE the banding itself (band keys, bucket
    // sizes, the ≤-cap survivor join) rather than lean on pigeonhole
    // completeness, because a capped generator is deliberately
    // incomplete: DuckDB's >> sign-extends like Spark's shiftright, so
    // the band keys agree bit-for-bit on negative codes. At 100 TB
    // this is what keeps one solid-color-thumbnail clique from turning
    // the self-join quadratic. ----
    QueryDef("qm10_image_dedup_capped",
      (s, dir) => Multimodal.imageDupPairs(nearDupPpmsFromDocs(s, dir),
          maxDist = 3, maxBucket = 24)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $mediaCodeCtes,
        bands AS (SELECT media_id, code,
            ((code >> (16*b.b)) & 65535) * 4 + b.b AS band_key
          FROM codes CROSS JOIN range(0, 4) b(b)),
        bsz AS (SELECT band_key, COUNT(*) AS n FROM bands GROUP BY band_key),
        kept AS (SELECT bands.media_id, bands.code, bands.band_key
          FROM bands JOIN bsz ON bsz.band_key = bands.band_key
          WHERE bsz.n <= 24),
        cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
            a.code AS ca, b.code AS cb
          FROM kept a JOIN kept b ON a.band_key = b.band_key
            AND a.media_id < b.media_id)
        SELECT id_a, id_b, CAST(bit_count(xor(ca, cb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ca, cb)) <= 3
        ORDER BY id_a, id_b""")),

    // ---- The band-population AUDIT the media cap is chosen from
    // (qm11, the qd13 analogue over the 4×16-bit band keys): histogram
    // of band-bucket sizes over qm8's fingerprint table. A bucket of B
    // members emits B·(B−1)/2 candidates, so the tail of this
    // histogram is exactly the clique mass qm10's maxBucket=24 drops —
    // the measurement that turns the media hot-band story from
    // asserted to measured (this fixture's tail reaches 30). ----
    QueryDef("qm11_media_band_audit",
      (s, dir) => Multimodal.hammingBandStats(
          Multimodal.aHashTable(nearDupPpmsFromDocs(s, dir)))
        .groupBy(col("n_docs").as("bucket_size"))
        .agg(count(lit(1)).as("n_buckets"))
        .orderBy(col("bucket_size")),
      Some(s"""WITH $mediaCodeCtes,
        bands AS (SELECT media_id,
            ((code >> (16*b.b)) & 65535) * 4 + b.b AS band_key
          FROM codes CROSS JOIN range(0, 4) b(b)),
        bsz AS (SELECT band_key, COUNT(*) AS n_docs FROM bands
          GROUP BY band_key)
        SELECT n_docs AS bucket_size, COUNT(*) AS n_buckets
        FROM bsz GROUP BY n_docs ORDER BY bucket_size""")),

    // ---- Near-dup media CLUSTERS (qm12): the operator qm8's pairs
    // exist FOR — capped banded pairs contracted to connected
    // components (Dedup.dupClusters, the qd6/qs9 treatment), yielding
    // per-image cluster id, size, and the canonical keep flag a
    // multimodal release consumes. Runs on the NON-DEGENERATE
    // brightness-shift fixture (hashedDupPpmsFromDocs — quadratic
    // pixel hash, so classes decorrelate; the qx8-rejected arm failed
    // on the linear fixture's 380-code degeneracy, a fixture artifact
    // this fixture removes): components recover exactly the planted
    // 3-member duplicate classes, zero cross-class edges at dist ≤ 3.
    // Oracle: closed-form codes → cap-reproducing banded pairs →
    // recursive-CTE transitive closure. ----
    QueryDef("qm12_media_dup_clusters",
      (s, dir) => Dedup.dupClusters(
          Multimodal.imageDupPairs(hashedDupPpmsFromDocs(s, dir),
            maxDist = 3, maxBucket = 24))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $hashedMediaCodeCtes,
        bands AS (SELECT media_id, code,
            ((code >> (16*b.b)) & 65535) * 4 + b.b AS band_key
          FROM codes CROSS JOIN range(0, 4) b(b)),
        bsz AS (SELECT band_key, COUNT(*) AS n FROM bands GROUP BY band_key),
        kept AS (SELECT bands.media_id, bands.code, bands.band_key
          FROM bands JOIN bsz ON bsz.band_key = bands.band_key
          WHERE bsz.n <= 24),
        pr AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
          FROM kept a JOIN kept b ON a.band_key = b.band_key
            AND a.media_id < b.media_id
          WHERE bit_count(xor(a.code, b.code)) <= 3),
        und AS (SELECT id_a AS a, id_b AS b FROM pr
          UNION ALL SELECT id_b AS a, id_a AS b FROM pr),
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

    QueryDef("qm7_channel_stats",
      (s, dir) => Multimodal.channelStats(pixmapsFromDocs(s, dir))
        .select(col("media_id"), col("codec"), col("r_sum"), col("g_sum"),
          col("b_sum"), col("px_min"), col("px_max"))
        .orderBy(col("media_id")),
      Some("""WITH m AS (SELECT doc_id AS media_id,
          CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS codec,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 13
               ELSE 4 * (1 + (doc_id // 2) % 4) END AS INT) AS w,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 3 + doc_id % 7
               ELSE 2 + doc_id % 5 END AS INT) AS h
          FROM documents),
        ch AS (SELECT media_id, codec, w, h,
          CASE WHEN codec = 'ppm' THEN 0 ELSE 2 END AS r_off,
          CASE WHEN codec = 'ppm' THEN 2 ELSE 0 END AS b_off
          FROM m)
        SELECT media_id, codec,
          CAST(list_sum(list_transform(range(0, w*h),
            p -> (media_id*31 + (3*p + r_off)*7) % 256)) AS BIGINT) AS r_sum,
          CAST(list_sum(list_transform(range(0, w*h),
            p -> (media_id*31 + (3*p + 1)*7) % 256)) AS BIGINT) AS g_sum,
          CAST(list_sum(list_transform(range(0, w*h),
            p -> (media_id*31 + (3*p + b_off)*7) % 256)) AS BIGINT) AS b_sum,
          CAST(list_min(list_transform(range(0, w*h*3),
            i -> (media_id*31 + i*7) % 256)) AS INT) AS px_min,
          CAST(list_max(list_transform(range(0, w*h*3),
            i -> (media_id*31 + i*7) % 256)) AS INT) AS px_max
        FROM ch ORDER BY media_id""")),

    // ---- The reference's analytic core, end-to-end (factor_builder.py
    // batch path, SURVEY.md §3.2): PIT identity attach → per-event-id
    // event selection with all-or-nothing ticker fallback (these
    // figi-less splits key to NOFIGI__ticker, so a FIGI suffix group
    // picks the same events up via fallback — encoded in the oracle's
    // spsel/dvsel CTEs) → forward as-of alignment onto each group's own
    // days → same-day ratio product → grouped cumprod →
    // anchor-to-last → split application → dividend/TR factors on the
    // split base. Bars/SM/splits/dividends are all derived
    // deterministically from the events table; every float op is either
    // exact-integer math (split ratios) or the same IEEE op sequence in
    // both engines (sequential windowed product, q08-validated). ----
    QueryDef("q32_adjusted_close",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("ticker", concat(lit("U"), col("user_id")))
        val bars = ev
          .groupBy(col("ticker"), to_date(col("ts")).as("event_day"))
          .agg(max(col("value")).as("close"))
          .withColumn("datetime", col("event_day").cast("timestamp"))
        // even users carry a FIGI valid from Jan 5 (PIT window splits
        // their series into a NOFIGI__ prefix and a FIGI suffix)
        val sm = ev.select(col("ticker"), col("user_id")).distinct()
          .filter(col("user_id") % 2 === 0)
          .select(col("ticker"),
            concat(lit("FIGI"), col("user_id")).as("composite_figi"),
            lit("2024-01-05").cast("date").as("effective_start"),
            lit(null).cast("date").as("effective_end"))
        val splits = ev
          .filter(col("event_type") === "purchase" && col("event_id") % 29 === 0)
          .select(col("ticker"), to_date(col("ts")).as("execution_date"),
            (lit(2.0) + (col("event_id") % 3).cast("double")).as("ratio"))
        val dividends = ev
          .filter(col("event_type") === "click" && col("event_id") % 31 === 0)
          .select(col("ticker"), to_date(col("ts")).as("ex_date"),
            dec4(col("value")).as("cash_amount"))
        val adj = Adjuster.adjust(bars, sm, splits, dividends, exact = true)
        val closeSplit = col("close") * col("split_price_factor")
        adj
          .select(col("ticker"),
            date_format(col("event_day"), "yyyy-MM-dd").as("day"),
            col("id"), col("close"), closeSplit.as("close_split"),
            (closeSplit * col("tr_price_factor")).as("close_tr"))
          .orderBy(col("ticker"), col("day"))
      },
      Some("""WITH ev AS (SELECT 'U'||CAST(user_id AS VARCHAR) AS ticker, user_id, ts, event_id, event_type, value FROM events),
        bars AS (SELECT ticker, CAST(ts AS DATE) AS event_day, MAX(value) AS close FROM ev GROUP BY 1, 2),
        sm AS (SELECT DISTINCT ticker, 'FIGI'||CAST(user_id AS VARCHAR) AS figi FROM ev WHERE user_id % 2 = 0),
        wid AS (SELECT b.ticker, b.event_day, b.close,
            CASE WHEN s.figi IS NOT NULL AND b.event_day >= DATE '2024-01-05' THEN s.figi
                 ELSE 'NOFIGI__'||b.ticker END AS id
          FROM bars b LEFT JOIN sm s ON s.ticker = b.ticker),
        sp AS (SELECT ticker, CAST(ts AS DATE) AS execution_date, 2.0 + CAST(event_id % 3 AS DOUBLE) AS ratio
          FROM ev WHERE event_type = 'purchase' AND event_id % 29 = 0),
        groups AS (SELECT id, MIN(ticker) AS g_ticker FROM wid GROUP BY id),
        spdir AS (SELECT g.id, sp.execution_date, sp.ratio
          FROM sp JOIN groups g ON g.id = 'NOFIGI__' || sp.ticker),
        spsel AS (SELECT * FROM spdir
          UNION ALL
          SELECT g.id, sp.execution_date, sp.ratio
          FROM groups g JOIN sp ON sp.ticker = g.g_ticker
          WHERE g.id NOT IN (SELECT id FROM spdir)),
        spsnap AS (SELECT s.id, s.ratio,
            (SELECT MIN(w.event_day) FROM wid w WHERE w.id = s.id AND w.event_day >= s.execution_date) AS snap_day
          FROM spsel s),
        spday AS (SELECT id, snap_day AS event_day, product(ratio ORDER BY ratio) AS day_ratio
          FROM spsnap WHERE snap_day IS NOT NULL GROUP BY id, snap_day),
        grid AS (SELECT w.id, w.ticker, w.event_day, w.close, COALESCE(d.day_ratio, 1.0) AS r
          FROM wid w LEFT JOIN spday d ON d.id = w.id AND d.event_day = w.event_day),
        fgrid AS (SELECT *, PRODUCT(r) OVER (PARTITION BY id ORDER BY event_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS F FROM grid),
        f2 AS (SELECT *, LAST_VALUE(F) OVER (PARTITION BY id ORDER BY event_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS F_last FROM fgrid),
        sbase AS (SELECT id, ticker, event_day, close, close * (F / F_last) AS close_split FROM f2),
        dv AS (SELECT ticker, CAST(ts AS DATE) AS ex_date, CAST(value AS DECIMAL(18,4)) AS cash_amount
          FROM ev WHERE event_type = 'click' AND event_id % 31 = 0),
        dvdir AS (SELECT g.id, dv.ex_date, dv.cash_amount
          FROM dv JOIN groups g ON g.id = 'NOFIGI__' || dv.ticker),
        dvsel AS (SELECT * FROM dvdir
          UNION ALL
          SELECT g.id, dv.ex_date, dv.cash_amount
          FROM groups g JOIN dv ON dv.ticker = g.g_ticker
          WHERE g.id NOT IN (SELECT id FROM dvdir)),
        dvsnap AS (SELECT d.id, d.cash_amount,
            (SELECT MIN(b.event_day) FROM sbase b WHERE b.id = d.id AND b.event_day >= d.ex_date) AS snap_day
          FROM dvsel d),
        dvday AS (SELECT id, snap_day AS event_day, SUM(cash_amount) AS amount
          FROM dvsnap WHERE snap_day IS NOT NULL GROUP BY id, snap_day),
        gginp AS (SELECT b.id, b.ticker, b.event_day, b.close, b.close_split,
            LAG(b.close_split) OVER (PARTITION BY b.id ORDER BY b.event_day) AS prior_base, a.amount
          FROM sbase b LEFT JOIN dvday a ON a.id = b.id AND a.event_day = b.event_day),
        gg AS (SELECT *, CASE WHEN amount IS NOT NULL AND prior_base IS NOT NULL AND prior_base > 0
              THEN (prior_base - CAST(amount AS DOUBLE)) / prior_base ELSE 1.0 END AS gfac FROM gginp),
        gcum AS (SELECT *, PRODUCT(gfac) OVER (PARTITION BY id ORDER BY event_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grun FROM gg),
        g2 AS (SELECT *, LAST_VALUE(grun) OVER (PARTITION BY id ORDER BY event_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS grun_last FROM gcum)
        SELECT ticker, strftime(event_day, '%Y-%m-%d') AS day, id, close, close_split,
          close_split * (grun / grun_last) AS close_tr
        FROM g2 ORDER BY ticker, day""")),

    // ---- Training-data chunking: overlapping token windows, one row
    // per chunk (the engine's generator/explode operator family) ----
    QueryDef("qt5_chunk_explode",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.chunks(col("text"), chunkSize = 32, overlap = 8)))
        .select(col("doc_id"), col("pos").as("chunk_id"),
          TextOps.hash60(col("col")).as("chunk_hash"),
          size(split(col("col"), " ")).as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH d AS (SELECT doc_id,
          string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
          FROM documents),
        c AS (SELECT doc_id, toks, len(toks) AS nt,
          CASE WHEN len(toks) <= 32 THEN 1 ELSE (len(toks) - 32 + 23) // 24 + 1 END AS nc
          FROM d),
        u AS (SELECT doc_id, toks, unnest(generate_series(1, nc)) AS i FROM c),
        e AS (SELECT doc_id, i - 1 AS chunk_id,
            array_to_string(toks[(i - 1) * 24 + 1 : (i - 1) * 24 + 32], ' ') AS chunk
          FROM u)
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS chunk_hash,
          CAST(len(string_split(chunk, ' ')) AS INT) AS n_tokens
        FROM e ORDER BY doc_id, chunk_id""")),

    // ---- Quantile-trim quality filter: keep docs inside the exact
    // [p10, p90] band of a quality metric — the percentile-cutoff
    // operator of corpus curation. Exact interpolated percentile
    // (Spark `percentile` ≡ DuckDB `quantile_cont` on doubles,
    // bit-checked), broadcast as a 1-row cutoff table. ----
    QueryDef("qt7_quantile_filter",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("double").as("v"))
        val cuts = d.agg(
          expr("percentile(v, 0.1)").as("lo"),
          expr("percentile(v, 0.9)").as("hi"))
        d.crossJoin(broadcast(cuts))
          .filter(col("v") >= col("lo") && col("v") <= col("hi"))
          .select(col("doc_id"), col("v"), col("lo"), col("hi"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH s AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS v FROM documents),
        c AS (SELECT quantile_cont(v, 0.1) AS lo, quantile_cont(v, 0.9) AS hi FROM s)
        SELECT doc_id, v, lo, hi FROM s, c
        WHERE v >= lo AND v <= hi ORDER BY doc_id""")),

    // ---- Per-language quantile trim: qt7's quality floor made
    // language-aware — each language gets its OWN exact 20th-percentile
    // cutoff, so a global threshold computed on the dominant language
    // cannot wipe out low-resource languages wholesale (the data-mixing
    // failure a multilingual corpus build must avoid). Scale shape: one
    // corpus scan partial-aggregates into a |languages|-row exact-
    // percentile table (per-group sort state is one language's values —
    // at real scale swap in approx_percentile, same plan shape: qt23
    // oracles that arm under its GK tolerance contract), joined
    // back by broadcast; the verdict is map-only. Spark `percentile` ≡
    // DuckDB `quantile_cont` bit-exactly on doubles (the qt7-verified
    // equivalence), and emitting keep as a column (not a filter) keeps
    // the boundary rows visible to the driver hash. ----
    QueryDef("qt21_lang_quantile_trim",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars").cast("double").as("v"))
        val cuts = d.groupBy(col("lang"))
          .agg(expr("percentile(v, 0.2)").as("lo"))
        d.join(broadcast(cuts), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("v"), col("lo"),
            (col("v") >= col("lo")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH s AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS v FROM documents),
        c AS (SELECT lang, quantile_cont(v, 0.2) AS lo FROM s GROUP BY lang)
        SELECT s.doc_id, s.lang, s.v, c.lo, s.v >= c.lo AS keep
        FROM s JOIN c ON c.lang = s.lang ORDER BY s.doc_id""")),

    // ---- The AT-SCALE arm of qt21: the same plan shape with
    // `approx_percentile` (Greenwald-Khanna, bounded sketch state)
    // where qt21 uses exact `percentile` (per-group sort state — fine
    // at bench scale, unbounded at 100 TB). A sketch value cannot be
    // hash-matched (merge order may move it within its guarantee), so
    // the ORACLED output is the TOLERANCE CONTRACT itself: per
    // language, rank_ok = |rank(ap) − 0.2·n| <= n/accuracy + 1 — the
    // GK rank-error bound LangTrimScaleSpec measures, computed in
    // Spark from the exact distribution vs the sketch cutoff (scan →
    // sketch agg → broadcast attach → map-side compare, exactly the
    // 100 TB plan), while DuckDB independently emits the bound and
    // TRUE. Any run of the sketch that honored its contract hashes
    // identically; a GK violation flips rank_ok and trips the gate.
    // The +1 slack covers the discrete-rank convention at group
    // boundaries (same convention as the spec). ----
    QueryDef("qt23_lang_trim_approx",
      (s, dir) => {
        val acc = 100
        val d = t(s, dir, "documents")
          .select(col("lang"), col("n_chars").cast("double").as("v"))
        val cuts = d.groupBy(col("lang"))
          .agg(expr(s"approx_percentile(v, 0.2, $acc)").as("ap"),
            count(lit(1)).as("grp_n"))
        d.join(broadcast(cuts), Seq("lang"))
          .groupBy(col("lang"))
          .agg(first(col("grp_n")).as("grp_n"),
            sum(when(col("v") <= col("ap"), 1L).otherwise(0L)).as("rank_ap"))
          .select(col("lang"), col("grp_n").cast("int").as("grp_n"),
            (col("grp_n").cast("double") / acc + 1.0).as("rank_bound"),
            (abs(col("rank_ap").cast("double") -
                lit(0.2) * col("grp_n").cast("double")) <=
              col("grp_n").cast("double") / acc + 1.0).as("rank_ok"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, CAST(COUNT(*) AS INT) AS grp_n,
          CAST(COUNT(*) AS DOUBLE) / 100 + CAST(1 AS DOUBLE) AS rank_bound,
          TRUE AS rank_ok
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- Deterministic train/val/test split: content-independent
    // md5-hash bucket of the id — stable across runs and engines ----
    QueryDef("qt6_hash_split",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          (TextOps.hash60(col("doc_id").cast("string")) % 100).as("bucket"),
          TextOps.hashSplit(col("doc_id"), Seq(90, 95),
            Seq("train", "val", "test")).as("split"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
          CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'train'
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 95 THEN 'val'
               ELSE 'test' END AS split
          FROM documents ORDER BY doc_id""")),

    // ---- Video frame-sampling plumbing: one row per every-3rd frame
    // of a deterministic payload-derived frame count, with per-frame
    // content keys. Payload here is the raw utf-8 text (no magic
    // bytes) so the oracle can reproduce the md5 keys — DuckDB's md5
    // is VARCHAR-only. ----
    QueryDef("qm3_frame_sample",
      (s, dir) => {
        val media = t(s, dir, "documents").select(
          col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("bytes"))
        Multimodal.frameSampleStub(media, everyNth = 3)
          .orderBy(col("media_id"), col("frame_index"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id, text,
          CAST(octet_length(encode(text)) % 240 + 1 AS INT) AS n_frames
          FROM documents),
        f AS (SELECT media_id, text, n_frames,
          unnest(range(0, n_frames, 3)) AS frame_index FROM m)
        SELECT media_id, n_frames, CAST(frame_index AS INT) AS frame_index,
          md5(text || CAST(frame_index AS VARCHAR)) AS frame_key
        FROM f ORDER BY media_id, frame_index""")),

    // ---- Audio decode: batched mapPartitions REALLY decoding
    // RIFF/WAVE integer PCM — each payload is a well-formed WAV
    // (wavsFromDocs; a third carry a LIST junk chunk, so the chunk
    // WALK is exercised, not a fixed 44-byte offset) whose fmt
    // metadata the decoder parses and whose full data chunk it sums;
    // the oracle recomputes every sample byte closed-form, so a green
    // row is genuine PCM decode evidence — the audio analog of qm2. ----
    QueryDef("qm4_wav_decode",
      (s, dir) => Multimodal.decodeAudio(wavsFromDocs(s, dir))
        .select(col("media_id"), col("codec"), col("channels"),
          col("sample_rate"), col("bits_per_sample"), col("n_data_bytes"),
          col("sample_sum"))
        .orderBy(col("media_id")),
      Some("""WITH m AS (SELECT doc_id AS media_id,
          CAST(1 + doc_id % 2 AS INT) AS channels,
          CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
          CAST(8 + 8 * ((doc_id // 2) % 2) AS INT) AS bits_per_sample,
          CAST((5 + doc_id % 11) * (1 + doc_id % 2)
            * ((8 + 8 * ((doc_id // 2) % 2)) // 8) AS BIGINT) AS dlen
          FROM documents)
        SELECT media_id, 'wav' AS codec, channels, sample_rate,
          bits_per_sample, dlen AS n_data_bytes,
          CAST(list_sum(list_transform(range(0, dlen),
            i -> (media_id * 17 + i * 11) % 256)) AS BIGINT) AS sample_sum
        FROM m ORDER BY media_id""")),

    // ---- COMPRESSED image decode, for real: every payload is a
    // genuine PNG (pngsFromDocs — zlib-deflated scanlines, rows cycling
    // all five filter types), decoded by parsePng via the JDK's
    // Inflater + full filter reconstruction; the oracle recomputes
    // every reconstructed pixel byte closed-form, so a green row proves
    // inflate AND all five filter paths reproduce the raw raster.
    // jpeg decodes for real too (parseJpeg via JDK ImageIO) but is
    // spec-pinned, not oracled — IDCT output has no closed-form SQL
    // recompute; mp3 (no JDK codec) remains the documented stub. ----
    QueryDef("qm5_png_decode",
      (s, dir) => Multimodal.decodeStub(pngsFromDocs(s, dir))
        .select(col("media_id"), col("codec"), col("decoded_width"),
          col("decoded_height"), col("decoded_bytes"), col("pix_sum"))
        .orderBy(col("media_id")),
      Some("""WITH m AS (SELECT doc_id AS media_id,
          CAST(3 + doc_id % 8 AS INT) AS w, CAST(2 + doc_id % 5 AS INT) AS h
          FROM documents)
        SELECT media_id, 'png' AS codec, w AS decoded_width, h AS decoded_height,
          CAST(w*h*3 AS BIGINT) AS decoded_bytes,
          CAST(list_sum(list_transform(range(0, w*h*3),
            i -> (media_id*31 + i*7) % 256)) AS BIGINT) AS pix_sum
        FROM m ORDER BY media_id""")),

    // ---- REAL resample, oracled closed-form: every payload is a PPM
    // whose dims are exact multiples of the box-fit scale (8k×4k into
    // an 8×8 box -> 8×4 out, k×k blocks), so each resampled byte is the
    // truncated mean of a k×k tile the oracle recomputes pixel-by-pixel
    // from the id-derived raster formula. A green row proves decode +
    // integer box-filter resample end-to-end, not geometry echo.
    // Non-divisor scales stay deterministic (ragged blocks) and are
    // spec-pinned in MultimodalSpec instead. ----
    QueryDef("qm6_resize",
      (s, dir) => Multimodal.resize(gridPpmsFromDocs(s, dir),
          maxW = 8, maxH = 8)
        .select(col("media_id"), col("codec"), col("resized_width"),
          col("resized_height"), col("resized_pix_sum"))
        .orderBy(col("media_id")),
      Some("""WITH m AS (SELECT doc_id AS media_id, 2 + doc_id % 3 AS k
          FROM documents)
        SELECT media_id, 'ppm' AS codec, CAST(8 AS INT) AS resized_width,
          CAST(4 AS INT) AS resized_height,
          CAST(list_sum(list_transform(range(0, 96), o ->
            list_sum(list_transform(range(0, k * k), b ->
              (media_id * 31 + (((((o // 24) * k + (b // k)) * (8 * k))
                + ((o % 24) // 3) * k + (b % k)) * 3 + (o % 3)) * 7) % 256
            )) // (k * k)
          )) AS BIGINT) AS resized_pix_sum
        FROM m ORDER BY media_id""")),

    // ---- Skew-salted join: must be result-identical to the plain join
    // it replaces. Oracle: the plain SQL join + aggregate. ----
    QueryDef("qx1_salted_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val sup = t(s, dir, "supplier")
          .withColumnRenamed("s_suppkey", "l_suppkey")
        Skew.saltedJoin(li, sup, Seq("l_suppkey"), buckets = 8)
          .groupBy(col("s_nationkey"))
          .agg(sum(dec4(col("l_quantity"))).cast("double").as("sum_qty"),
            count(lit(1)).as("n_items"))
          .orderBy(col("s_nationkey"))
      },
      Some("""SELECT s_nationkey,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n_items
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY s_nationkey ORDER BY s_nationkey"""))
  )
}
