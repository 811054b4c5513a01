package graft.queries

import graft.SparkTestBase

/** Pins the concurrent-fit harness contract (DataOpsQueries.fitThread /
  * awaitFit): every fit's Spark jobs carry a `graft-fit-<tag>` job
  * group (attributable in the UI / event logs, cancellable as a group),
  * the tag never leaks onto the caller's jobs or a later fit on the
  * reused pool thread, and a wedged fit fails loudly instead of
  * hanging the harness (awaitFit is bounded).
  */
class FitPoolSpec extends SparkTestBase {

  test("fitThread tags the fit's jobs with its graft-fit group") {
    spark.range(1).count() // materialize the session before pool use
    val f = DataOpsQueries.fitThread("spec-row") {
      // read the group from inside the fit thread, with a real job
      // submitted under it so the tag demonstrably covers Spark work
      spark.range(10).count()
      spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    }
    assert(DataOpsQueries.awaitFit(f) === "graft-fit-spec-row")
  }

  test("the group is thread-local: the caller's jobs stay untagged and " +
      "a reused pool thread sees its OWN tag, never a stale one") {
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
    // run enough sequential fits to guarantee pool-thread reuse
    // (the pool is bounded at 4)
    (1 to 6).foreach { i =>
      val f = DataOpsQueries.fitThread(s"spec-reuse-$i") {
        spark.sparkContext.getLocalProperty("spark.jobGroup.id")
      }
      assert(DataOpsQueries.awaitFit(f) === s"graft-fit-spec-reuse-$i")
    }
    // caller thread still untagged after the fits drained
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

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

  test("a throwing fit propagates its failure through awaitFit") {
    val f = DataOpsQueries.fitThread("spec-boom") {
      throw new IllegalStateException("boom")
    }
    val e = intercept[IllegalStateException](DataOpsQueries.awaitFit(f))
    assert(e.getMessage === "boom")
  }
}
