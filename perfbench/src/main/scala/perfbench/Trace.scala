package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the Spark
  * engine's own records (jobs, stages, query phases, micro-batches),
  * kept in memory and written out as JSON lines when the run ends.
  * With tracing off, `span` only runs its body.
  *
  * Times are epoch microseconds from one clock (nanoTime anchored to
  * currentTimeMillis once), so spans line up with Spark's event times.
  */
final class Trace(val on: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val out = ArrayBuffer.empty[String]
  private var nextId = 0
  private var stack = List.empty[Int]

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Codegen compile count and total ms. The histogram keeps every
    * sample until its reservoir fills; past that the total is
    * estimated as count × mean. */
  private def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    (n, if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n)
  }

  def span[T](name: String, req: Int = -1)(body: => T): T = {
    if (!on) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val (c0, cms0) = codegen
    val g0 = gcMs
    val t0 = nowUs
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = nowUs
      val (c1, cms1) = codegen
      stack = stack.tail
      note(s"""{"kind":"span","id":$id,"name":"$name","parent":$parent,"req":$req,"t0":$t0,"t1":$t1,"ok":$ok,"codegen_compiles":${c1 - c0},"codegen_ms":${cms1 - cms0},"gc_ms":${gcMs - g0}}""")
    }
  }

  def mark(name: String): Unit = note(s"""{"kind":"mark","name":"$name","t":$nowUs}""")

  /** Free-form record attached to the trace (counts a layer reports). */
  def note(json: String): Unit = if (on) synchronized { out += json }

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = note(
        s"""{"kind":"job","job":${e.jobId},"t0":${e.time * 1000},"group":"${Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")}","stages":[${e.stageIds.mkString(",")}]}""")
      override def onJobEnd(e: SparkListenerJobEnd): Unit = note(
        s"""{"kind":"job_end","job":${e.jobId},"t1":${e.time * 1000},"ok":${e.jobResult == JobSucceeded}}""")
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = s.taskMetrics
        note(s"""{"kind":"stage","stage":${s.stageId},"tasks":${s.numTasks},"t0":${s.submissionTime.getOrElse(0L) * 1000},"t1":${s.completionTime.getOrElse(0L) * 1000},"run_ms":${if (m == null) 0 else m.executorRunTime},"shuffle_bytes":${if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten},"spill_bytes":${if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled}}""")
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def rec(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        val t0 = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
        val ms = ph.values.map(p => p.endTimeMs - p.startTimeMs).sum
        note(s"""{"kind":"qe","t0":${t0 * 1000},"planning_ms":$ms}""")
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
        note(s"""{"kind":"batch","batch":${p.batchId},"t0":$t0,"durations":{$d}}""")
      }
    })
  }

  def write(spark: SparkSession, path: String): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try synchronized { out.foreach(w.println) } finally w.close()
  }
}
