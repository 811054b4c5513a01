package graft.source

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Boundary normalization: the one place where messy source schemas are
  * harmonized into the canonical [[graft.model.Schemas]]. Replaces the
  * reference's per-file re-detection scattered across every loader
  * (SURVEY.md §1.3): header candidate lists (ingest.py:64-66,132-140),
  * Polygon short names (ingest.py:239-241), time-column aliases
  * (factor_builder.py:76; lake_io.py:459-466), epoch-unit sniffing
  * (ingest.py:165-176; factor_builder.py:40-44), ticker symbol cleanup
  * (run_pullers.py:25-63).
  */
object Normalize {

  /** Short/alias → canonical column names, first match wins.
    * Mirrors TS_CANDS/TICKER_CANDS + the o/h/l/c/v/n/vw map.
    */
  val ColumnAliases: Seq[(String, Seq[String])] = Seq(
    "ticker" -> Seq("ticker", "symbol", "T", "S", "sym"),
    "datetime" -> Seq("datetime", "date", "timestamp", "t", "time",
      "window_start", "ts", "epoch", "start_time"),
    "open" -> Seq("open", "o"),
    "high" -> Seq("high", "h"),
    "low" -> Seq("low", "l"),
    "close" -> Seq("close", "c"),
    "volume" -> Seq("volume", "v"),
    "transactions" -> Seq("transactions", "n"),
    "vwap" -> Seq("vwap", "vw"))

  /** Event-date aliases for refdata tables (lake_io.py:546,556). */
  val SplitDateAliases = Seq("execution_date", "effective_date", "split_date", "date")
  val DividendDateAliases = Seq("ex_date", "ex_dividend_date", "exDividendDate", "exDate", "date")

  /** Rename recognized alias columns to canonical names; unknown columns
    * pass through. Case-sensitive match first (Polygon's `T`/`t` short
    * names differ only by case), then case-insensitive fallback. The
    * rename is positional (`toDF`) — `withColumnRenamed` resolves
    * case-insensitively and would collapse `T` and `t` into one target.
    */
  def resolveAliases(df: DataFrame,
      aliases: Seq[(String, Seq[String])] = ColumnAliases): DataFrame = {
    val present = df.columns
    val mapping = scala.collection.mutable.Map.empty[String, String] // original -> canonical
    aliases.foreach { case (canon, cands) =>
      if (!present.contains(canon)) {
        val exact = cands.find(c => present.contains(c) && !mapping.contains(c))
        val found = exact.orElse(
          cands.iterator.flatMap(c =>
            present.find(p => p.equalsIgnoreCase(c) && !mapping.contains(p))).
            nextOption())
        found.foreach(c => mapping(c) = canon)
      }
    }
    df.toDF(present.map(c => mapping.getOrElse(c, c)).toIndexedSeq: _*)
  }

  /** Epoch-unit sniffing by magnitude, with ISO-string fallback
    * (thresholds from factor_builder.py:40-44: 1e17→ns, 1e14→µs,
    * 1e11→ms, else s). Accepts long, double, or string input.
    */
  def sniffTimestamp(c: Column): Column = {
    val s = c.cast("string")
    val digits = s.rlike("^[0-9]+(\\.0+)?$")
    // Integer epochs stay in exact long arithmetic: nanosecond values
    // (~1.7e18) exceed double's 2^53 integer range, so a double
    // round-trip can be off by a microsecond or more. The digits
    // (without a literal ".0" suffix) parse as a long, null past
    // Long.MaxValue (an error under ANSI), and ns → µs is the integral
    // `div`: the regex admits no negative value, so it is the floor.
    // Column./ on longs would promote to double and reintroduce the
    // precision loss.
    val v = substring_index(s, ".", 1).cast("long")
    when(digits,
      when(v > 100000000000000000L, timestamp_micros(call_function("div", v, lit(1000L))))
        .when(v > 100000000000000L, timestamp_micros(v))
        .when(v > 100000000000L, timestamp_millis(v))
        .otherwise(timestamp_seconds(v)))
      .otherwise(to_timestamp(s))
  }

  /** Ticker cleanup at every boundary (ingest.py:245): upper + trim.
    * Spark's `upper` maps through ICU, whose case tables are built on
    * first use in a JVM (about 2 s on a 4-core host), with every task
    * that reaches it waiting on that class-init lock. A ticker that is
    * valid all-ASCII UTF-8 (one byte per char) is upper-cased
    * byte-wise by `translate` instead, which ICU maps identically;
    * anything else still goes through `upper`, so the output is
    * bit-identical for every input (NormalizeSpec pins the non-ASCII
    * cases).
    */
  def cleanTicker(c: Column): Column = {
    val t = trim(c)
    when(is_valid_utf8(t) && length(t) === octet_length(t),
      translate(t, "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
      .otherwise(upper(t))
  }

  /** Symbol separator normalization for refdata symbol matching
    * (run_pullers.py:25-36): '/', '-', '^', space → '.', collapse
    * repeats, strip leading/trailing dots.
    */
  def normalizeSymbol(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(cleanTicker(c), "[/\\-^ ]", "."),
        "\\.{2,}", "."),
      "^\\.+|\\.+$", "")

  /** Dot→dash variant used when probing alternate symbol spellings
    * (build_index_universes.py:21-24, e.g. BRK.B → BRK-B).
    */
  def dashVariant(c: Column): Column = regexp_replace(c, "\\.", "-")

  /** Apply full bar-source normalization: aliases, ticker cleanup,
    * timestamp sniffing, canonical column order/types.
    */
  def normalizeBars(raw: DataFrame): DataFrame = {
    val aliased = resolveAliases(raw)
    require(aliased.columns.contains("datetime") && aliased.columns.contains("ticker"),
      s"bars source must have resolvable datetime+ticker columns, got: ${raw.columns.mkString(",")}")
    val typed = aliased
      .withColumn("datetime", sniffTimestamp(col("datetime")))
      .withColumn("ticker", cleanTicker(col("ticker")))
    val optional = Seq("open" -> "float", "high" -> "float", "low" -> "float",
      "close" -> "float", "vwap" -> "float", "volume" -> "long",
      "transactions" -> "long")
    val cols = Seq(col("datetime"), col("ticker")) ++ optional.map { case (n, t) =>
      (if (typed.columns.contains(n)) col(n).cast(t) else lit(null).cast(t)).as(n)
    }
    typed.select(cols: _*)
  }
}
