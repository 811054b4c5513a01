package graft.source

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class NormalizeSpec extends SparkTestBase {
  import spark.implicits._

  test("short-name alias resolution (Polygon o/h/l/c/v/n/vw + T/t)") {
    val raw = Seq(("aapl", "1700000000", "1.0", "2.0", "0.5", "1.5", "100", "7", "1.2"))
      .toDF("T", "t", "o", "h", "l", "c", "v", "n", "vw")
    val out = Normalize.normalizeBars(raw)
    assert(out.columns.toSeq == Seq("datetime", "ticker", "open", "high", "low",
      "close", "vwap", "volume", "transactions"))
    val row = out.collect()(0)
    assert(row.getAs[String]("ticker") == "AAPL")
    assert(row.getAs[Float]("close") == 1.5f)
    assert(row.getAs[Long]("volume") == 100L)
  }

  test("long-name and case-insensitive alias resolution") {
    val raw = Seq(("msft", "2024-03-01 10:00:00", "10.0"))
      .toDF("Symbol", "window_start", "Close")
    val out = Normalize.normalizeBars(raw)
    assert(out.select("ticker").as[String].head() == "MSFT")
    assert(out.select(date_format($"datetime", "yyyy-MM-dd HH:mm:ss")).as[String].head()
      == "2024-03-01 10:00:00")
    assert(out.select("open").head().isNullAt(0))
  }

  test("epoch unit sniffing: s / ms / us / ns / ISO string") {
    val base = 1700000000L // 2023-11-14T22:13:20Z
    val cases = Seq(
      base.toString, (base * 1000).toString, (base * 1000000).toString,
      (base * 1000000000L).toString, "2023-11-14T22:13:20")
    val df = cases.toDF("raw")
      .select(unix_timestamp(Normalize.sniffTimestamp($"raw")).as("epoch"))
    assert(df.as[Long].collect().toSeq == Seq.fill(5)(base))
  }

  test("nanosecond epochs convert with exact integer arithmetic") {
    // 1455200494606748983 ns: the double path (v/1e3 after a double cast)
    // rounds this UP to ...749 µs; the exact floor is ...748 µs. Doubles
    // have a 2^53 integer range; ns epochs (~1.7e18) exceed it.
    val df = Seq("1455200494606748983").toDF("raw")
      .select(unix_micros(Normalize.sniffTimestamp($"raw")).as("us"))
    assert(df.as[Long].head() == 1455200494606748L)
  }

  test("sniffTimestamp equals the decimal(20,0) form on long, double and string " +
      "input, with ANSI on and off") {
    // the former form, kept as the oracle: a decimal(20,0) parse and an
    // exact decimal ns -> µs floor
    def decimalSniff(c: org.apache.spark.sql.Column) = {
      val digits = c.cast("string").rlike("^[0-9]+(\\.0+)?$")
      val d = c.cast("decimal(20,0)")
      val v = d.cast("long")
      when(digits,
        when(v > 100000000000000000L, timestamp_micros(floor(d / 1000).cast("long")))
          .when(v > 100000000000000L, timestamp_micros(v))
          .when(v > 100000000000L, timestamp_millis(v))
          .otherwise(timestamp_seconds(v)))
        .otherwise(to_timestamp(c.cast("string")))
    }
    val s = 1700000000L
    val longs = Seq(s, s * 1000, s * 1000000, s * 1000000000L + 123456789L, 0L, 7L,
      100000000000L, 100000000001L, 100000000000000L, 100000000000001L,
      100000000000000000L, 100000000000000001L, Long.MaxValue, -5L)
    val doubles = Seq(s.toDouble, (s * 1000).toDouble, 1234567.0, 0.0, 12.5, -3.0,
      1.7e18, Double.NaN)
    val strings = Seq(s.toString, (s * 1000).toString, (s * 1000000).toString,
      "1455200494606748983", "1455200494606748983.0", "1455200494606748983.000",
      "9223372036854775807", "9223372036854775808", // 19 digits, past Long.MaxValue
      "12345678901234567890", "99999999999999999999", // 20 digits
      "123456789012345678901", // 21 digits
      "0001700000000", "00000000000000000001700000000", "1700000000.0", "1700000000.5",
      "", " 1700000000", "+1700000000", "-1700000000", "1.7e9",
      "2023-11-14T22:13:20", "2023-11-14 22:13:20", "2023-11-14", "not a time", null)
    val inputs = Seq(longs.map(Option(_)).toDF("raw"),
      doubles.map(Option(_)).toDF("raw"), strings.toDF("raw"))
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    def eval(in: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column): Either[String, Option[Long]] =
      try Right(Option(in.select(unix_micros(f($"raw"))).head().get(0))
        .map(_.asInstanceOf[Long]))
      catch { case _: Exception => Left("throws") }
    val cases = try for (ansi <- Seq("true", "false"); df <- inputs; r <- df.collect()) yield {
      spark.conf.set(key, ansi)
      val one = spark.createDataFrame(java.util.List.of(r), df.schema)
      (s"ANSI $ansi, ${df.schema.head.dataType} ${r.get(0)}",
        eval(one, Normalize.sniffTimestamp), eval(one, decimalSniff))
    } finally spark.conf.set(key, prev)
    assert(cases.size == 2 * (longs.size + doubles.size + strings.size))
    // One deliberate difference: with ANSI off, digits past
    // Long.MaxValue are null, as a string -> long cast gives. The
    // decimal form's decimal -> long cast wrapped them modulo 2^64 into
    // an overflow error or an arbitrary time (99999999999999999999
    // became a year-5138 timestamp). With ANSI on both forms throw.
    val pastLong = Set("9223372036854775808", "12345678901234567890", "99999999999999999999")
    val (wrapped, rest) = cases.partition { case (c, _, _) =>
      c.startsWith("ANSI false") && pastLong.exists(p => c.endsWith(s" $p")) }
    assert(wrapped.size == 3 && wrapped.forall(_._2 == Right(None)), wrapped)
    assert(wrapped.exists(_._3 == Right(Some(99999999999999999L))), wrapped)
    val differ = rest.filter { case (_, got, want) => got != want }
    assert(differ.isEmpty, differ.mkString("\n"))
    assert(cases.count { case (c, got, _) =>
      c.startsWith("ANSI true") && pastLong.exists(p => c.endsWith(s" $p")) &&
        got == Left("throws") } == 3)
  }

  test("cleanTicker equals upper(trim(x)) on ASCII and non-ASCII input") {
    // the ASCII fast path and the ICU arm: padding, empty, whitespace
    // only, null, and the length-changing / context-sensitive / title-
    // case mappings (ß → SS, ı → I, İ stays, ǅ → Ǆ, ﬀ → FF), é
    val cases = Seq("  aApl ", "brk.b", "", "   ", null, "ß", "ı", "İ",
      "ǅ", "ﬀ", "é", " sße ", "x\u0000y", "~`!@#{}[]|\\")
    val df = cases.toDF("t")
    val got = df.select(Normalize.cleanTicker($"t").as("c"),
        upper(trim($"t")).as("u"))
      .as[(String, String)].collect().toSeq
    assert(got.size == cases.size)
    got.zip(cases).foreach { case ((c, u), in) =>
      assert(c == u, s"'$in': cleanTicker '$c' != upper(trim) '$u'")
    }
    assert(got.map(_._1).take(2) == Seq("AAPL", "BRK.B"))
    assert(got(4)._1 == null && got(5)._1 == "SS")
  }

  test("symbol normalization: separators to dots, collapse, strip") {
    val df = Seq("brk/b", "BRK-B", "BRK^B", "BRK B", "BRK..B", ".BRK.")
      .toDF("s").select(Normalize.normalizeSymbol($"s").as("n"))
    assert(df.as[String].collect().toSeq ==
      Seq("BRK.B", "BRK.B", "BRK.B", "BRK.B", "BRK.B", "BRK"))
  }
}
