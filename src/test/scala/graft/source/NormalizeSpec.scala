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
