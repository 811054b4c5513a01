package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.sim.{Ivf, Similarity}
import graft.streaming.Sessionize

/** Demo main driving the stateful-streaming sessionizer and the IVF ANN
  * index over the testdata: sessions computed both by the streaming
  * state-store path (file source feeding flatMapGroupsWithState) and the
  * batch fold, cross-checked; then IVF top-k recall vs brute force.
  *
  * Usage: runMain graft.SessionDemo [sfDir]
  */
object SessionDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local("graft-session-demo", 8)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val events = Tables.load(spark, sfDir, "events")
      .select($"user_id", $"ts", $"value").as[Sessionize.Event]

    val batchSessions = Sessionize.sessionsBounded(spark, events, 1800)
    println(s"batch sessions: ${batchSessions.size} over " +
      s"${batchSessions.map(_.user_id).distinct.size} users; " +
      s"largest = ${batchSessions.map(_.n_events).max} events")

    // streaming path over a real file source: stage events as parquet,
    // stream them through the sessionizer with AvailableNow
    val tmp = java.nio.file.Files.createTempDirectory("graft_sess").toString
    events.write.mode("overwrite").parquet(s"$tmp/in")
    val streamIn = spark.readStream
      .schema(events.schema).parquet(s"$tmp/in").as[Sessionize.Event]
    val q = Sessionize.sessionsStream(streamIn, 1800, "1 hour")
      .writeStream.format("memory").queryName("demo_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    val streamed = spark.table("demo_sessions").count()
    println(s"streamed sessions emitted (pre-watermark-close): $streamed")

    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val model = Ivf.fit(emb, "vec_id", "embedding", k = 16, iters = 3)
    val ivf = Ivf.topK(emb, queries, "vec_id", "embedding", "qid", "qe",
        model, k = 5, nprobe = 4)
      .select($"qid", $"neighbor_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding",
        "qid", "qe", k = 5)
      .select($"qid", $"neighbor_id").as[(Long, Long)].collect().toSet
    println(f"ivf recall@5 (nprobe=4/16): ${(ivf & brute).size.toDouble / brute.size}%.3f " +
      s"(candidates scanned ~ nprobe/k of corpus)")
    spark.stop()
  }
}
