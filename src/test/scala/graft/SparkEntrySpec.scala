package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract guard for the driver surface: `SparkEntry.queries` is
  * built with `.toMap`, which silently DROPS duplicates — a
  * copy-pasted query name would hide one query from the correctness
  * gate while everything stays green. Pure JVM-side, no SparkSession.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("query names are unique — toMap cannot silently drop one") {
    val names = Seq(
      queries.CoreQueries.defs, queries.DataOpsQueries.defs,
      queries.ExtraQueries.defs, queries.AdvancedQueries.defs)
      .flatten.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("SPARK_GRAFT_CPUS parses to a positive Int or fails loudly") {
    def cpus(v: String) = SparkEntry.cpus(Map("SPARK_GRAFT_CPUS" -> v))
    assert(SparkEntry.cpus(Map.empty) == 4)
    assert(cpus("8") == 8)
    assert(cpus("032") == 32)   // compared as a number, not as a string
    for (bad <- Seq("", "*", "0", "-4", "4c", " 4", "4.0"))
      intercept[IllegalArgumentException](cpus(bad))
  }

  test("SPARK_GRAFT_REPEATS parses to a positive Int or fails loudly") {
    def repeats(v: String) = SparkEntry.repeats(Map("SPARK_GRAFT_REPEATS" -> v))
    assert(SparkEntry.repeats(Map.empty) == 1)
    assert(repeats("3") == 3)
    assert(repeats("03") == 3)
    for (bad <- Seq("", "*", "0", "-4", "4c", " 4", "4.0", "three"))
      intercept[IllegalArgumentException](repeats(bad))
  }

  test("SPARK_GRAFT_ONLY takes names and prefix* patterns") {
    def only(v: String) = SparkEntry.onlyFilter(Map("SPARK_GRAFT_ONLY" -> v))
    assert(SparkEntry.onlyFilter(Map.empty).isEmpty)
    assert(only("").isEmpty && only(" , ,").isEmpty)
    val f = only("qst*, qd6_dup_clusters").get
    assert(f("qst23_stream_admission") && f("qd6_dup_clusters"))
    assert(!f("qd6_dup_clusters_x") && !f("qs28_ann_serving") && !f("qs"))
    val names = SparkEntry.queries.keys.toSeq
    assert(names.contains("qd6_dup_clusters") &&
      names.exists(_.startsWith("qst")))
    assert(names.filter(f).toSet ==
      names.filter(n => n.startsWith("qst") || n == "qd6_dup_clusters").toSet)
    assert(names.count(only("*").get) == names.size)
    assert(!names.exists(only("nosuchprefix*").get))
  }

  test("every oracle belongs to a registered query; flagship is registered") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.contains("q32_adjusted_close"))
  }

  test("every registered query is oracled — Verify writes no row that " +
      "the DuckDB selfcheck cannot check") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"no oracle: ${SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet}")
  }

  test("bench retirement only names real queries and shrinks the bench " +
      "set exactly — a typo'd name would silently retire nothing") {
    assert(SparkEntry.benchRetired.subsetOf(SparkEntry.queries.keySet),
      s"unknown: ${SparkEntry.benchRetired -- SparkEntry.queries.keySet}")
    assert(SparkEntry.benchQueries.size ==
      SparkEntry.queries.size - SparkEntry.benchRetired.size)
    // every retired row keeps its correctness gate: it must still be
    // oracled (or at minimum registered) in the Verify surface
    assert(SparkEntry.benchRetired.subsetOf(SparkEntry.oracleSql.keySet))
  }

  test("every retired row's containing superior is registered and still " +
      "BENCHED — a retired superior would orphan the containment claim") {
    SparkEntry.benchRetiredInto.foreach { case (retired, superior) =>
      assert(SparkEntry.queries.contains(superior),
        s"$retired names unknown superior $superior")
      assert(!SparkEntry.benchRetired(superior),
        s"$retired's superior $superior is itself retired - the bench " +
          "no longer measures the chain that justified the retirement")
    }
  }
}
