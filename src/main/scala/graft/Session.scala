package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape every graft main and spec runs on:
  * `local[cpus]`, shuffle partitions = cpus, AQE with skew-join
  * splitting, the UTC session time zone, and no Spark UI. Mains pass
  * [[SparkEntry.cpus]]; `getOrCreate()` hands back the running session
  * when there is one.
  */
object Session {
  def local(appName: String, cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
