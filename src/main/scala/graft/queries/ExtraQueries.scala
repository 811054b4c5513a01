package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.adjust.Factors
import graft.model.Tables
import graft.ops.AsOf

/** Remaining SURVEY.md §2 operator families as oracle-checked queries:
  * base-100 normalization (W6), split-gap ratio guessing (F15), manifest
  * interval-overlap pruning (S7), schema-drift union (S5/U1), timezone
  * derivation (F2), and the backward as-of direction (J2 complement).
  */
object ExtraQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- W6 base-100 normalization (notebooks/03 cell 10:
    // 100*s/s.iloc[0]) ----
    QueryDef("q24_base100",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            (lit(100.0) * col("value") /
              nullif(first(col("value")).over(w), lit(0.0))).as("b100"))
          .filter(col("b100").isNotNull)
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id, b100 FROM (
          SELECT event_id, user_id,
            100.0 * value / NULLIF(FIRST_VALUE(value) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 0) AS b100
          FROM events) WHERE b100 IS NOT NULL ORDER BY event_id""")),

    // ---- F15 split-ratio guess from a price gap (factor_builder.py:
    // 746-753): nearest of {2,3,4,5,10,20} to the gap (inverted when the
    // gap < 1), accepted within 15% relative error ----
    QueryDef("q25_split_guess",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("prev", lag(col("o_totalprice"), 1).over(w))
          .filter(col("prev").isNotNull && col("prev") > 0)
          .withColumn("gap", col("o_totalprice") / col("prev"))
          .withColumn("guess", Factors.splitGapGuess(col("gap")))
          .select(col("o_orderkey"), col("gap"), col("guess"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH g AS (
          SELECT o_orderkey, o_totalprice /
            LAG(o_totalprice) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey) AS gap
          FROM orders),
        e AS (
          SELECT o_orderkey, gap,
            CASE WHEN gap < 1.0 THEN 1.0 / gap ELSE gap END AS g2
          FROM g WHERE gap IS NOT NULL),
        b AS (
          SELECT o_orderkey, gap,
            list_sort(list_transform([2.0, 3.0, 4.0, 5.0, 10.0, 20.0],
              c -> [abs(g2 - c), c]))[1] AS best
          FROM e)
        SELECT o_orderkey, gap,
          CASE WHEN best[1] / best[2] <= 0.15 THEN best[2] END AS guess
        FROM b ORDER BY o_orderkey""")),

    // ---- S7 manifest-driven interval-overlap pruning (lake_io.py:
    // 108-147): keep "files" whose [start,end] overlaps the query
    // window; the manifest is the per-(suppkey,month) zone map ----
    QueryDef("q26_interval_overlap",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"),
          date_format(col("l_shipdate"), "yyyy-MM").as("ym"))
        .agg(min(col("l_shipdate")).as("fstart"),
          max(col("l_shipdate")).as("fend"),
          count(lit(1)).as("rows"))
        .filter(col("fstart") <= lit("1996-07-15").cast("timestamp") &&
          col("fend") >= lit("1996-03-15").cast("timestamp"))
        .select(col("l_suppkey"), col("ym"), col("rows"))
        .orderBy(col("l_suppkey"), col("ym")),
      Some("""SELECT l_suppkey, ym, rows FROM (
          SELECT l_suppkey, strftime(l_shipdate, '%Y-%m') AS ym,
            MIN(l_shipdate) AS fstart, MAX(l_shipdate) AS fend,
            COUNT(*) AS rows
          FROM lineitem GROUP BY 1, 2)
        WHERE fstart <= TIMESTAMP '1996-07-15' AND fend >= TIMESTAMP '1996-03-15'
        ORDER BY l_suppkey, ym""")),

    // ---- S5/U1 schema-drift union: two generations of a table with
    // different column sets merged by name, missing columns null-padded
    // (lake_io.py:419-476 schema-safe multi-file scan) ----
    QueryDef("q27_schema_union",
      (s, dir) => {
        val oldGen = t(s, dir, "part")
          .filter(col("p_size") >= 40)
          .select(col("p_partkey").as("key"), lit("old").as("gen"),
            col("p_retailprice").as("price"))
        val newGen = t(s, dir, "part")
          .filter(col("p_size") < 10)
          .select(col("p_partkey").as("key"), lit("new").as("gen"),
            col("p_brand").as("brand"))
        oldGen.unionByName(newGen, allowMissingColumns = true)
          .orderBy(col("gen"), col("key"))
      },
      Some("""SELECT * FROM (
          SELECT p_partkey AS key, 'old' AS gen, p_retailprice AS price,
            CAST(NULL AS VARCHAR) AS brand
          FROM part WHERE p_size >= 40
          UNION ALL BY NAME
          SELECT p_partkey AS key, 'new' AS gen, p_brand AS brand
          FROM part WHERE p_size < 10)
        ORDER BY gen, key""")),

    // ---- F2 timezone derivation: UTC instants -> Eastern wall clock as
    // a DERIVED column (SURVEY.md §7.4: storage stays UTC, the
    // reference's stored-Eastern convention becomes a projection;
    // ingest.py:268, lake_io.py:315-320) ----
    QueryDef("q28_tz_convert",
      (s, dir) => t(s, dir, "events")
        .filter(col("event_id") % 25 === 0)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("utc_time"),
          date_format(from_utc_timestamp(col("ts"), "America/New_York"),
            "yyyy-MM-dd HH:mm:ss").as("ny_time"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id,
          strftime(ts, '%Y-%m-%d %H:%M:%S') AS utc_time,
          strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York',
            '%Y-%m-%d %H:%M:%S') AS ny_time
        FROM events WHERE event_id % 25 = 0 ORDER BY event_id""")),

    // ---- sessionization: gap-based session assignment — the batch
    // twin of flatMapGroupsWithState session windows (streaming path in
    // graft.streaming); cumulative-sum-of-gaps formulation ----
    QueryDef("q30_sessionize",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val run = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_session",
            when(col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
          .withColumn("session_id", sum(col("new_session")).over(run))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(unix_micros(col("ts"))).as("start_us"),
            max(unix_micros(col("ts"))).as("end_us"))
          .orderBy(col("user_id"), col("session_id"))
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

    // ---- O3/global top-k: ORDER BY + LIMIT (Spark TakeOrderedAndProject) ----
    QueryDef("q31_global_topn",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")),

    // ---- J2 backward as-of: for each purchase, the user's last click
    // at-or-before it (the direction the reference doesn't use —
    // completes the as-of surface) ----
    QueryDef("q29_asof_backward",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
          .withColumn("click_ts", col("ts"))
        AsOf.joinBackward(purchases, clicks, Seq("user_id"), "ts", "ts",
            Seq("click_ts", "click_id"))
          .filter(col("click_ts").isNotNull)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            unix_micros(col("click_ts")).as("click_us"),
            col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH c AS (
          SELECT user_id, ts, MAX(event_id) AS click_id
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        m AS (
          SELECT p.event_id, p.user_id, p.ts, MAX(c.ts) AS click_ts
          FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
          GROUP BY p.event_id, p.user_id, p.ts)
        SELECT m.event_id, m.user_id, epoch_us(m.ts) AS ts_us,
          epoch_us(m.click_ts) AS click_us, c.click_id
        FROM m JOIN c ON c.user_id = m.user_id AND c.ts = m.click_ts
        ORDER BY m.event_id""")),

    // ---- F15 end-to-end: the full gap-detection pipeline
    // (day grid → splitGapGuess → the factor kernel's override,
    // factor_builder.py:789-814). Synthetic smooth closes drop 10:1 on
    // 2024-01-15 for every 5th ticker with EMPTY refdata splits — the
    // recovered factor grid must re-date every series exactly. All
    // arithmetic (close formula, gap division, guess acceptance, exact
    // windowed product) is the same IEEE op sequence in both engines. ----
    QueryDef("qx2_gap_detect",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy(col("ticker")).orderBy(col("event_day"))
        val grid = t(s, dir, "events")
          .select(concat(lit("U"), col("user_id")).as("ticker"),
            col("user_id"), to_date(col("ts")).as("event_day"))
          .distinct()
        val bars = grid
          .withColumn("di", row_number().over(w).cast("double"))
          .withColumn("close",
            (lit(100.0) + (col("user_id") % 7).cast("double") +
              col("di") * lit(0.5)) *
              when(col("user_id") % 5 === 0 &&
                col("event_day") >= lit("2024-01-15").cast("date"),
                lit(0.1)).otherwise(lit(1.0)))
          .withColumn("datetime", col("event_day").cast("timestamp"))
        val ids = Factors.dayGrid(bars).withColumn("id", col("ticker"))
        val noSplits = Seq.empty[(String, java.sql.Date, Double)]
          .toDF("ticker", "execution_date", "ratio")
        val noDividends = Seq.empty[(String, java.sql.Date, Double)]
          .toDF("ticker", "ex_date", "cash_amount")
        Factors.factorTable(Factors.gapGuesses(ids), noSplits, noDividends, exact = true)
          .select(col("id").as("ticker"),
            date_format(col("event_day"), "yyyy-MM-dd").as("day"),
            col("split_price_factor"), col("split_volume_factor"))
          .orderBy(col("ticker"), col("day"))
      },
      Some("""WITH grid AS (SELECT DISTINCT 'U'||CAST(user_id AS VARCHAR) AS ticker,
            user_id, CAST(ts AS DATE) AS event_day FROM events),
        b AS (SELECT ticker, event_day,
            (100.0 + CAST(user_id % 7 AS DOUBLE) +
              CAST(ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY event_day) AS DOUBLE) * 0.5)
            * (CASE WHEN user_id % 5 = 0 AND event_day >= DATE '2024-01-15'
                THEN 0.1 ELSE 1.0 END) AS close
          FROM grid),
        e AS (SELECT ticker, event_day,
            close / LAG(close) OVER (PARTITION BY ticker ORDER BY event_day) AS gap
          FROM b),
        gu AS (SELECT ticker, event_day,
            list_sort(list_transform([2.0, 3.0, 4.0, 5.0, 10.0, 20.0],
              c -> [abs(g2 - c), c]))[1] AS best
          FROM (SELECT ticker, event_day,
              CASE WHEN gap < 1.0 THEN 1.0 / gap ELSE gap END AS g2
            FROM e WHERE gap IS NOT NULL AND gap > 0)),
        ratios AS (SELECT e.ticker, e.event_day,
            COALESCE(CASE WHEN gu.best[1] / gu.best[2] <= 0.15 THEN gu.best[2] END,
              1.0) AS day_r
          FROM e LEFT JOIN gu ON gu.ticker = e.ticker AND gu.event_day = e.event_day),
        cum AS (SELECT *, PRODUCT(day_r) OVER (PARTITION BY ticker ORDER BY event_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runf FROM ratios),
        cum2 AS (SELECT *, LAST_VALUE(runf) OVER (PARTITION BY ticker ORDER BY event_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS runf_last FROM cum)
        SELECT ticker, strftime(event_day, '%Y-%m-%d') AS day,
          runf / runf_last AS split_price_factor,
          runf_last / runf AS split_volume_factor
        FROM cum2 ORDER BY ticker, day""")),

    // ---- Z-order layout audit (lake/ZOrder): Morton-interleave
    // (o_custkey, epoch-day(o_orderdate)), bucket by the
    // top-8-bit z prefix, and report each bucket's span in BOTH
    // dimensions — the bounded-span-in-every-dim property that makes
    // parquet min/max stats prune either key after a z-ordered write
    // (ZOrder.layout). Deterministic throughout: the prefix bucket is a
    // pure function of the keys (no range-sampler dependence), all
    // outputs exact integers. The per-dim bit width is DERIVED from
    // the observed key domain — bits = floor(log2(max_key)) + 1 over
    // both dims, one driver-side 2-number aggregate, recomputed
    // identically by the oracle — so the audit survives any
    // scale-factor bump (sf0.1's max custkey 15000 → 14 bits; sf1
    // would derive 18) instead of tripping zValue's strict-domain
    // raise on a hardcoded width. The oracle interleaves bit-by-bit
    // with a range(0,bits) lateral sum — disjoint bit positions, so
    // SUM ≡ OR — bit-identical to the fold by construction. ----
    QueryDef("ql1_zorder_layout",
      (s, dir) => {
        import graft.lake.ZOrder
        val x = col("o_custkey")
        val y = datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01")))
        val dom = t(s, dir, "orders")
          .agg(greatest(max(x), max(y)).cast("long")).head.getLong(0)
        // floor(log2(max)) + 1 == 64 - numberOfLeadingZeros(max);
        // prefixBits = 8 needs 2*bits >= 8, so floor at 4 bits/dim
        val bits = math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(dom))
        val z = ZOrder.zValue(x, y, bits = bits)
        t(s, dir, "orders")
          .select(x.as("x"), y.as("y"),
            ZOrder.prefixBucket(z, bits = bits, prefixBits = 8).as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("x")).cast("int").as("x_min"),
            max(col("x")).cast("int").as("x_max"),
            min(col("y")).cast("int").as("y_min"),
            max(col("y")).cast("int").as("y_max"),
            (max(col("x")) - min(col("x"))).cast("int").as("x_span"),
            (max(col("y")) - min(col("y"))).cast("int").as("y_span"))
          .orderBy(col("bucket"))
      },
      Some("""WITH p AS (SELECT o_orderkey, o_custkey AS x,
            datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
          FROM orders),
        bt AS (SELECT GREATEST(4,
            CAST(floor(log2(GREATEST(MAX(x), MAX(y)))) AS INT) + 1) AS bits
          FROM p),
        zt AS (SELECT p.o_orderkey, p.x, p.y,
            CAST(SUM((((p.x >> t.i) & 1) << (2*t.i))
              + (((p.y >> t.i) & 1) << (2*t.i + 1))) AS BIGINT) AS z
          FROM p, bt, range(0, 32) t(i) WHERE t.i < bt.bits
          GROUP BY p.o_orderkey, p.x, p.y)
        SELECT (z >> (2*bt.bits - 8)) AS bucket, COUNT(*) AS n,
          CAST(MIN(x) AS INT) AS x_min, CAST(MAX(x) AS INT) AS x_max,
          CAST(MIN(y) AS INT) AS y_min, CAST(MAX(y) AS INT) AS y_max,
          CAST(MAX(x) - MIN(x) AS INT) AS x_span,
          CAST(MAX(y) - MIN(y) AS INT) AS y_span
        FROM zt, bt GROUP BY 1, bt.bits ORDER BY bucket""")),

    // ---- Bucketed co-located join (lake/Bucketed), as a driver row:
    // orders and customer are bucket-materialized on the join key
    // (8 buckets each, a fresh temp lake location per run), then
    // joined through the session catalog — and the body REQUIRES the
    // physical plan to contain zero Exchange and a SortMergeJoin with
    // broadcast disabled, so the zero-shuffle claim is enforced every
    // round, not just spec-asserted. At 100 TB this is the lever that
    // joins the fact table to its factor/dimension grids without ever
    // shuffling the big side again after the one-time bucketed write.
    // The result hash-matches the plain join oracle (bucketing must
    // not change semantics). ----
    QueryDef("ql2_bucketed_join",
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("ql2_bucketed").toString
        val ob = t(s, dir, "orders").select(
          col("o_custkey").as("custkey"), col("o_orderkey"),
          col("o_totalprice"))
        val cb = t(s, dir, "customer").select(
          col("c_custkey").as("custkey"), col("c_nationkey"))
        graft.lake.Bucketed.write(ob, "graft_ql2_orders", s"$tmp/orders",
          buckets = 8, bucketCols = Seq("custkey"), sortCols = Seq("custkey"))
        graft.lake.Bucketed.write(cb, "graft_ql2_customer", s"$tmp/customer",
          buckets = 8, bucketCols = Seq("custkey"), sortCols = Seq("custkey"))
        val joined = graft.lake.Bucketed.read(s, "graft_ql2_orders")
          .join(graft.lake.Bucketed.read(s, "graft_ql2_customer"),
            Seq("custkey"))
          .select(col("custkey"), col("o_orderkey"), col("o_totalprice"),
            col("c_nationkey"))
        // assert the co-location with broadcast off (a broadcast join
        // would be Exchange-free trivially and prove nothing)
        val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val plan = joined.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            "bucketed join planned an Exchange:\n" + plan)
          require(plan.contains("SortMergeJoin"), plan)
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        joined.orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_custkey AS custkey, o_orderkey, o_totalprice,
          c_nationkey
        FROM orders JOIN customer ON c_custkey = o_custkey
        ORDER BY o_orderkey""")),

    // ---- Split-window backfill (ingest/Backfill — the reference's
    // emit_split_backfill_cmds.py:21-40 re-run scoping as dynamic
    // partition overwrite), as a driver row: a synthetic bars lake is
    // written from events (ticker=U<user_id>, partitioned ticker/year/
    // month, close = value), splits are derived the q32 way (purchases
    // with event_id % 29 == 0), and overwriteAffected rewrites ONLY
    // the partitions within ±14 days of a split with recomputed bars
    // (close = value·2). The read-back lake must show exactly the
    // affected partitions at the new values and every untouched
    // partition at the old — which is the oracle's closed-form CASE on
    // partition membership. Values are raw doubles (v and v·2, exact),
    // timestamps round-trip at micros. Fixture sizing: tickers are
    // user_id mod 32 (not raw user_id — 1000 tickers × months ≈ 4000
    // partition dirs turned the writes into a 50 s metadata storm at
    // sf0.1), and the initial write is repartitioned on the partition
    // keys so each dir gets ONE file, not one per shuffle task — the
    // same one-file-per-partition policy the ingest sink uses. ----
    QueryDef("ql3_backfill_overwrite",
      (s, dir) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("ql3_backfill").toString
        val lake = s"$tmp/lake"
        // Fixture sizing, the ql4 lesson applied to its sibling row:
        // this row makes THREE full passes over its lake (initial
        // write, affected-window overwrite, verification read-back) —
        // pass-count × row-volume cost, while the operator under test
        // (affected-partition discovery + dynamic overwrite of only
        // those dirs) is partition-dir-shaped. A bounded 1-in-3 slice
        // with tickers mod 16 keeps the same dir structure and both
        // overwrite arms tripping at every SF.
        val ev = t(s, dir, "events")
          .filter(col("event_id") % 3 === 0)
          .withColumn("ticker", concat(lit("U"), col("user_id") % 16))
        def bars(factor: Double) = ev.select(col("ticker"),
          col("ts").as("datetime"),
          (col("value") * factor).as("close"),
          year(col("ts")).as("year"), month(col("ts")).as("month"))
        bars(1.0)
          .repartition(col("ticker"), col("year"), col("month"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("ticker", "year", "month").parquet(lake)
        val splits = ev
          .filter(col("event_type") === "purchase" && col("event_id") % 29 === 0)
          .select(col("ticker"), to_date(col("ts")).as("execution_date"))
          .distinct()
        graft.ingest.Backfill.overwriteAffected(s, bars(2.0), splits, lake,
          windowDays = 14)
        s.read.parquet(lake)
          .select(col("ticker"), unix_micros(col("datetime")).as("ts_us"),
            col("year").cast("int").as("yr"),
            col("month").cast("int").as("mo"), col("close"))
          .orderBy(col("ticker"), col("ts_us"), col("close"))
      },
      Some("""WITH ev AS (SELECT 'U'||CAST(user_id % 16 AS VARCHAR) AS ticker,
            ts, event_id, event_type, value FROM events
          WHERE event_id % 3 = 0),
        sp AS (SELECT DISTINCT ticker, CAST(ts AS DATE) AS ed FROM ev
          WHERE event_type = 'purchase' AND event_id % 29 = 0),
        dy AS (SELECT ticker,
            unnest(generate_series(ed - 14, ed + 14, INTERVAL 1 DAY)) AS d
          FROM sp),
        aff AS (SELECT DISTINCT ticker, year(d) AS yr, month(d) AS mo FROM dy)
        SELECT e.ticker, epoch_us(e.ts) AS ts_us,
          year(e.ts) AS yr, month(e.ts) AS mo,
          CASE WHEN a.ticker IS NOT NULL THEN e.value * 2 ELSE e.value END AS close
        FROM ev e LEFT JOIN aff a ON a.ticker = e.ticker
          AND a.yr = year(e.ts) AND a.mo = month(e.ts)
        ORDER BY e.ticker, ts_us, close""")),

    // ---- Small-file compaction (lake/Compact), graduated from
    // spec-only to a driver row the ql2/ql3 way: a synthetic bars lake
    // is drip-fed in three appends (every partition dir collects up to
    // three files — exactly the fragmentation streaming ingest leaves
    // behind), Compact.fragmented finds the over-threshold partitions
    // from the lake itself, Compact.partitions rewrites ONLY those via
    // dynamic partition overwrite to one file each, and the row
    // require()s the work list was non-empty before and empty after —
    // compaction's job is to change FILE LAYOUT and nothing else, so
    // the oracle is the strongest possible one: the read-back lake
    // must hash-match the original projection row-for-row. At 100 TB
    // every small file is a scan task + a metadata entry; this
    // operator is the maintenance pass that keeps maxPartitionBytes
    // packing effective. Fixture sizing, the ql3 lesson extended: the
    // row makes SIX passes over its lake (3 appends, 2 fragmentation
    // scans, 1 rewrite) plus the read-back, so the lake is a bounded
    // 1-in-7 slice of events with tickers mod 8 — fragmentation
    // behavior is dir-count- and file-count-shaped, not row-volume-
    // shaped, so the small slice measures the same operator (the
    // unsliced arm floored 17 s at sf0.1, all of it pass-count ×
    // row volume). ----
    QueryDef("ql4_compaction",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("ql4_compact")
        val lake = s"$tmp/lake"
        try {
          val ev = t(s, dir, "events")
            .filter(col("event_id") % 7 === 0)
            .withColumn("ticker", concat(lit("U"), col("user_id") % 8))
          val bars = ev.select(col("ticker"), col("ts").as("datetime"),
            col("value").as("close"), year(col("ts")).as("year"),
            month(col("ts")).as("month"), col("event_id"))
          (0 until 3).foreach { slice =>
            bars.filter(col("event_id") % 3 === slice).drop("event_id")
              .repartition(col("ticker"), col("year"), col("month"))
              .write.mode(org.apache.spark.sql.SaveMode.Append)
              .partitionBy("ticker", "year", "month").parquet(lake)
          }
          val work = graft.lake.Compact.fragmented(s, lake, maxFiles = 2)
          require(work.nonEmpty, "fixture must actually fragment the lake")
          graft.lake.Compact.partitions(s, lake, work)
          require(graft.lake.Compact.fragmented(s, lake, maxFiles = 2).isEmpty,
            "compaction must clear the fragmentation work list")
          // collect to a LOCAL frame so the fixture lake can be deleted
          // before the row returns (the withSentinelStream hygiene
          // convention) — the returned plan must not reference tmp
          val res = s.read.parquet(lake)
            .select(col("ticker"), unix_micros(col("datetime")).as("ts_us"),
              col("close"))
            .orderBy(col("ticker"), col("ts_us"), col("close"))
          import scala.jdk.CollectionConverters._
          s.createDataFrame(res.collect().toSeq.asJava, res.schema)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      },
      Some("""SELECT 'U'||CAST(user_id % 8 AS VARCHAR) AS ticker,
          epoch_us(ts) AS ts_us, value AS close
        FROM events WHERE event_id % 7 = 0
        ORDER BY ticker, ts_us, close""")),

    // ---- Serving-index PERSISTENCE round-trip (ql5): the "stored
    // artifact" claim made literal — the (id, codes, cell) table the
    // whole qs22-qs30 serving stack reasons about is WRITTEN to a
    // cell-partitioned zstd parquet lake (the layout a 100 TB index
    // actually wants: with nprobe=4 of 8 cells the probe join's
    // broadcast query-cells side makes the hive `cell=` directories
    // prunable — at scale, dynamic partition pruning reads only the
    // probed fraction), READ BACK through the hive reader (codes as
    // array<int> must survive parquet; `cell` comes back as a
    // partition column), and served via the standard
    // Ivf.topKAdcOnIndex entry. The oracle is qst10's full probe+ADC
    // chain — so a green row pins that persistence changed NOTHING
    // about serving semantics. Temp lake deleted in finally, result
    // collected local first (the ql4 hygiene). ----
    QueryDef("ql5_index_roundtrip",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("ql5_index")
        try {
          val e = t(s, dir, "embeddings")
          val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
          val cells = graft.sim.Ivf.fit(e, "vec_id", "embedding",
            k = 8, iters = 0)
          graft.sim.Ivf.assign(e, "vec_id", "embedding", cells)
            .select(col("vec_id"),
              graft.sim.Pq.codes(col("embedding"), pq).as("codes"),
              col("cell"))
            // one file per cell dir (the Compact one-file policy):
            // without this each scan partition writes a file into
            // EVERY cell dir and the read-back/compaction pays ~32x
            // the file-count in open+footer cost
            .repartition(col("cell"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("compression", "zstd")
            .partitionBy("cell").parquet(s"$tmp/index")
          val stored = s.read.parquet(s"$tmp/index")
          val q = e.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
          val served = graft.sim.Ivf.topKAdcOnIndex(stored, q,
              "vec_id", "query_id", "qe", cells, pq, k = 5, nprobe = 4)
            .select(col("query_id"), col("neighbor_id"),
              col("rank").cast("int").as("rank"))
            .orderBy(col("query_id"), col("rank"))
          import scala.jdk.CollectionConverters._
          s.createDataFrame(served.collect().toSeq.asJava, served.schema)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
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

    // ---- Tombstone COMPACTION (ql6): the scheduled rebuild the
    // serve-time anti-join (qs30) defers to, composed over ql5's
    // persisted artifact — build the cell-partitioned index lake on
    // the FULL corpus, retract a 1-in-8 slice, serve around the holes
    // (qs30's path, from the lake), then Ivf.compactTombstones folds
    // the tombstones into the lake (affected-cell discovery on a
    // 12 B/row projection scan; only affected `cell=` partitions
    // re-read + rewritten via dynamic partition overwrite) and the
    // row require()s the three contract claims: rows were actually
    // removed, NO tombstoned id survives in the lake (the emptied-
    // tombstone-table precondition), and post-compaction serving
    // through the PLAIN topKAdcOnIndex entry is row-identical to
    // pre-compaction tombstoned serving — compaction changes file
    // layout and the tombstone table, never a served result. Output
    // is the served ranking; oracle is qs30's tombstone-filtered
    // probe+ADC chain emitting ranked rows. Temp lake deleted in
    // finally, result collected local first (the ql4/ql5 hygiene). ----
    QueryDef("ql6_tombstone_compaction",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("ql6_index")
        val lake = s"$tmp/index"
        try {
          val e = t(s, dir, "embeddings")
          val pq = graft.sim.Pq.fit(e, "vec_id", "embedding", m = 16, k = 256)
          val cells = graft.sim.Ivf.fit(e, "vec_id", "embedding",
            k = 8, iters = 0)
          graft.sim.Ivf.assign(e, "vec_id", "embedding", cells)
            .select(col("vec_id"),
              graft.sim.Pq.codes(col("embedding"), pq).as("codes"),
              col("cell"))
            // one file per cell dir (the Compact one-file policy):
            // without this each scan partition writes a file into
            // EVERY cell dir and the read-back/compaction pays ~32x
            // the file-count in open+footer cost
            .repartition(col("cell"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("compression", "zstd")
            .partitionBy("cell").parquet(lake)
          val tomb = e.filter(col("vec_id") % 8 === 3).select(col("vec_id"))
          val q = e.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
          def ranked(df: DataFrame): Array[org.apache.spark.sql.Row] =
            df.select(col("query_id"), col("neighbor_id"),
                col("rank").cast("int").as("rank"))
              .orderBy(col("query_id"), col("rank")).collect()
          val before = ranked(graft.sim.Ivf.topKAdcOnIndexWithTombstones(
            s.read.parquet(lake), tomb, q,
            "vec_id", "query_id", "qe", cells, pq, k = 5, nprobe = 4))
          val removed = graft.sim.Ivf.compactTombstones(s, lake, tomb, "vec_id")
          require(removed > 0, "fixture must actually retract rows")
          val stored = s.read.parquet(lake)
          require(stored.join(tomb, Seq("vec_id"), "left_semi").isEmpty,
            "compaction must leave no tombstoned row in the lake")
          val after = ranked(graft.sim.Ivf.topKAdcOnIndex(stored, q,
            "vec_id", "query_id", "qe", cells, pq, k = 5, nprobe = 4))
          require(before.toSeq == after.toSeq,
            "rebuilt-index serving must equal tombstoned serving")
          import scala.jdk.CollectionConverters._
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("neighbor_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rank",
              org.apache.spark.sql.types.IntegerType)))
          s.createDataFrame(after.toSeq.asJava, schema)
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      },
      Some("""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
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
          FROM p0 JOIN qn ON qn.query_id = p0.query_id)
        SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank FROM (
          SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk FROM p1) WHERE rk <= 5
        ORDER BY query_id, rank"""))
  )
}
