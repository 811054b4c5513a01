package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.cpus()
    // Opt-in repeat count for local noise adjudication: time each query
    // N times and report the MIN (the least box-noise-contaminated
    // sample). Default 1 so driver totals stay comparable round-over-
    // round. Parsed before the session starts, so a bad value fails fast.
    val repeats = SparkEntry.repeats()
    val spark = Session.local("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: pay one-time costs (codegen classloading, typed
    // encoder compilation, parquet footer caches, JIT) before the
    // timing loop so per-query numbers reflect steady state.
    locally {
      import spark.implicits._
      spark.range(1000).map(i => (i, Array(i.toFloat))).filter(_._1 >= 0).count()
      // A wrong SF dir must not abort here: every row then fails on its
      // own read and lands in "failed", so the run still prints its
      // line and exits 1 without a record.
      try spark.read.parquet(s"$sfDir/nation.parquet").count()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] parquet warmup failed (continuing unwarmed): ${e.getMessage}")
      }
      // Warm the micro-batch engine + state-store code paths too, so the
      // first streaming query's timed window doesn't carry their
      // one-time classloading/commit setup. A warmup failure degrades to
      // an unwarmed run — it must never abort the bench itself — and the
      // checkpoint dir is cleaned up even on failure.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      implicit val sqlCtx = spark.sqlContext
      val ck = java.nio.file.Files.createTempDirectory("bench_warm")
      try {
        val ms = MemoryStream[Int]
        ms.addData(1, 2)
        ms.toDS().groupBy("value").count()
          .writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", ck.toString)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] streaming warmup failed (continuing unwarmed): ${e.getMessage}")
      } finally {
        // cleanup must not abort the bench either: state-store
        // maintenance can still be touching the dir after a failed
        // warmup, making walk/delete itself throw
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(ck).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] warmup checkpoint cleanup failed (continuing): ${e.getMessage}")
        }
      }
    }
    // Optional query-name filter for local iteration (e.g.
    // SPARK_GRAFT_ONLY=qd6_dup_clusters or qst*); driver runs
    // unfiltered. See SparkEntry.onlyFilter.
    val only = SparkEntry.onlyFilter()
    // A query that throws is recorded by NAME in "failed", never as a
    // time: a time-to-crash entry would make a broken build look FASTER
    // than a working one, and the driver bench could not tell the two
    // apart. A run with any failed row exits 1 and writes no record.
    // The bench times the SHIPPING surface (SparkEntry.benchQueries);
    // ladder rows superseded by a benched superior stay gate-only —
    // see SparkEntry.benchRetired for the per-row rationale. An
    // explicit SPARK_GRAFT_ONLY filter overrides the retirement so
    // retired rows remain measurable on demand.
    val timed = (if (only.isDefined) SparkEntry.queries
                 else SparkEntry.benchQueries)
      .filter { case (name, _) => only.forall(_(name)) }
      .map { case (name, fn) =>
      val samples = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        // Execute via the noop SINK, not count(): under count() Catalyst
        // legally prunes subtrees that cannot change cardinality — e.g.
        // qt8's left join against a doc_id-keyed aggregate is join-
        // eliminated, deleting the bigram explode it exists to measure
        // (observed: 0.39 s "count" vs ~8 s real at sf0.1 pre-bindOnce).
        // The noop sink consumes every row of the ACTUAL result (sort
        // included, as a real consumer would) and writes nothing.
        val ok = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // Cache lifecycle: each query persists its own intermediates
        // (MEMORY_AND_DISK); without an unpersist they accumulate across
        // all ~50 queries and squeeze the unified memory pool — under box
        // pressure the dedup kernels then spill/recompute 10x slower.
        // Dropping the previous query's caches (outside its timed window)
        // gives every query a clean storage pool.
        spark.catalog.clearCache()
        // Same hygiene for the heap: a query's garbage (shuffle buffers,
        // dropped cache blocks, codegen classes) otherwise lands as GC
        // pauses inside whichever LATER query trips the collector —
        // cross-row contamination, not that query's plan cost. Collect
        // it here, outside every timed window.
        System.gc()
        (dt, ok)
      }
      val ok = samples.forall(_._2)
      val dt = samples.map(_._1).min
      if (repeats > 1)
        System.err.println(s"[bench] $name samples: " +
          samples.map(s => f"${s._1}%.2f").mkString(", ") + f" -> min $dt%.2f")
      (name, dt, ok)
    }
    val results = timed.collect { case (name, dt, true) => name -> dt }
    val failed = timed.collect { case (name, _, false) => name }
    // Per-query entries ASCENDING by time: the driver's record of this
    // line keeps the SUFFIX (observed in BENCH_r18/r19 "tail" fields),
    // so the expensive rows — the ones a reader needs — must come LAST
    // to survive truncation, and the total is emitted AFTER the
    // queries map for the same reason. Rounded to ms but floored at
    // 0.001 so a sub-ms row stays distinguishable from an unbenched
    // one.
    val qs = results.toSeq.sortBy(_._2)
      .map { case (k, v) => s"\"" + k + "\":" +
        math.max(math.round(v * 1000.0) / 1000.0, 0.001) }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val line =
      s"""{"metric":"total","unit":"sec","sf":"$sfDir","queries":$qs,"failed":$fs,"value":$total}"""
    println(line)
    // The authoritative per-query record must never depend on the
    // driver's truncation window: also write the complete JSON to a
    // committed in-repo file — but only for runs in the DRIVER's shape
    // (unfiltered, at the driver's sf0.1 dir, no failed row): a scoped
    // SPARK_GRAFT_ONLY iteration, a small-SF smoke bench or a run
    // whose total misses a crashed row must not overwrite the
    // authoritative record with partial/incomparable numbers. Core
    // count is part of that shape too: the driver's 8-core SCALING run
    // at sf0.1 must not clobber the 32-core record (observed in r20:
    // BENCH_FULL.json silently held the c8 numbers)
    // — so the record carries `cpus` and lands in a per-core-count
    // file, BENCH_FULL.json itself only at the driver's 32-core
    // shape. Written relative to the working directory (sbt runs
    // from the repo root), so a worktree or second clone records into
    // ITSELF, never into another checkout. Best-effort — a read-only
    // checkout must not fail the bench.
    if (failed.isEmpty && only.isEmpty && sfDir.endsWith("sf0.1")) {
      val record = line.replaceFirst("\\{", s"""{"cpus":$cpus,""")
      val file = if (cpus == 32) "BENCH_FULL.json"
                 else s"BENCH_FULL_c$cpus.json"
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(file),
        (record + "\n").getBytes("UTF-8"))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] BENCH_FULL.json write failed (continuing): ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
