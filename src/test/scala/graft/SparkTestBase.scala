package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. getOrCreate() deduplicates across
  * suites in the forked test JVM — one Spark context for the whole run.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local("graft-test", 4)

  def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean =
    math.abs(a - b) <= eps * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
