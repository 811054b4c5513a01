package graft.queries

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.{SparkEntry, SparkTestBase}

/** Pins the fit job-group contract (DataOpsQueries.inFitGroup): every
  * fit's Spark jobs carry a `graft-fit-<tag>` job group (attributable
  * in event logs, cancellable as a group), and the caller's own group
  * is restored afterwards, so a composite's per-arm groups nest.
  */
class FitGroupSpec extends SparkTestBase {

  test("inFitGroup tags jobs on the caller's thread, then restores the " +
      "caller's own group even when the fit throws") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller", interruptOnCancel = false)
    try {
      val seen = DataOpsQueries.inFitGroup("spec-inline") {
        spark.range(10).count()
        (sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("spark.job.interruptOnCancel"))
      }
      assert(seen == (("graft-fit-spec-inline", "true")))
      intercept[IllegalStateException](DataOpsQueries.inFitGroup("spec-x") {
        throw new IllegalStateException("boom")
      })
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == "false")
    } finally sc.clearJobGroup()
    // an untagged caller is left untagged
    DataOpsQueries.inFitGroup("spec-bare")(())
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("a composite's fits are attributed per arm: qx17's old and new " +
      "arms each own their clf, dsir and mix fit groups") {
    val sc = spark.sparkContext
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
    SparkEntry.queries("qx17_lineage_from_artifact")(spark,
      "/root/testdata/sf0.001")
    try {
      // the caller's thread carries no group after the eager fits
      assert(sc.getLocalProperty("spark.jobGroup.id") == null)
      // job-start events reach the status tracker asynchronously
      val groups = for (arm <- Seq("old", "new");
          fit <- Seq("clf", "dsir", "mix")) yield s"graft-fit-qx17-$arm-$fit"
      eventually(timeout(30.seconds), interval(200.millis)) {
        val empty = groups.filter(g => sc.statusTracker.getJobIdsForGroup(g).isEmpty)
        assert(empty.isEmpty, s"fit groups that own no job: $empty")
      }
    } finally spark.catalog.clearCache()
  }
}
