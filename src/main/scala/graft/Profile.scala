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
      // aggregate by group
      println("  -- by job group --")
      rows.groupBy(_._4).toSeq.sortBy(-_._2.map(_._3).sum).foreach {
        case (g, js) =>
          println(f"  ${js.map(_._3).sum}%7.2f s  ${js.size}%3d jobs  ${if (g.isEmpty) "(main)" else g}%s")
      }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
