package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job breakdown of one bench row — the optimization-round
  * measurement tool (guide §1): runs named queries exactly as Bench
  * does (noop sink, same session shape) with a listener that records
  * every Spark job's wall time, job group and description, so a
  * composite row's cost decomposes into its fits / verdict executions
  * instead of one opaque number.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *        runMain graft.Profile qx17_lineage_from_artifact [more...]
  */
object Profile {

  /** Wall time covered by a set of jobs, each given as (start, duration)
    * in seconds: the length of the union of their [start, start +
    * duration] intervals. Jobs of one group can run side by side, so
    * the plain sum of their durations can exceed the row's wall time.
    */
  def unionWall(jobs: Seq[(Double, Double)]): Double = {
    val (total, openStart, openEnd) = jobs.sortBy(_._1)
      .foldLeft((0.0, 0.0, Double.NegativeInfinity)) {
        case ((acc, s0, e0), (start, dt)) =>
          val end = start + dt
          if (start > e0) (acc + (e0 - s0).max(0.0), start, end)
          else (acc, s0, e0.max(end))
      }
    total + (openEnd - openStart).max(0.0)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [queryName...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local("graft-profile", SparkEntry.cpus())
    spark.sparkContext.setLogLevel("WARN")
    // job id -> (t0, group, description); completed jobs appended to log
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Double, String, String)]()
    @volatile var t0Query = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), group, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, group, desc) =>
          val now = System.nanoTime()
          log.add((je.jobId, (t0 - t0Query) / 1e9, (now - t0) / 1e9, group, desc))
        }
      }
    })
    // same warmup as Bench so first-query numbers aren't classloading
    spark.range(1000).count()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      log.clear(); starts.clear()
      t0Query = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0Query) / 1e9
      println(f"\n==== $name%s total ${total}%.2f s ====")
      import scala.jdk.CollectionConverters._
      val rows = log.asScala.toSeq.sortBy(_._2)
      rows.foreach { case (id, off, dt, group, desc) =>
        val label = (if (group.nonEmpty) group + "  " else "") + desc.take(90)
        println(f"  job $id%3d  +${off}%7.2f s  ${dt}%7.2f s  $label%s")
      }
      // aggregate by group: the wall time the group's jobs cover
      println("  -- by job group (wall covered by the group's jobs) --")
      rows.groupBy(_._4).toSeq
        .map { case (g, js) => (g, unionWall(js.map(j => (j._2, j._3))), js.size) }
        .sortBy(-_._2).foreach { case (g, wall, n) =>
          println(f"  ${wall}%7.2f s  ${n}%3d jobs  ${if (g.isEmpty) "(main)" else g}%s")
        }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
