package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans around the benchmark's calls into each layer, plus what Spark's
  * public listeners report: jobs (with their stage/task counts and task
  * metrics), micro-batch progress, and query-planning phases.
  *
  * Jobs link to the span that launched them through the job group (set on
  * the calling thread for the span's duration); micro-batch jobs carry the
  * streaming query's run id as their group, and [[linkQuery]] ties a run id
  * to the span that started the query. Everything stays in memory until
  * [[json]]. With `enabled = false` a span is the bare call and no listener
  * is registered. All times are epoch milliseconds.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer.{Job, Span}
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val progress = mutable.ArrayBuffer.empty[String]
  private val plans = mutable.ArrayBuffer.empty[String]
  private val queryLinks = mutable.ArrayBuffer.empty[(String, Int)]
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val parent = current.get()
    val s = synchronized {
      val s = Span(spans.size + 1, if (parent == null) 0 else parent.id, name, layer,
        nowMs, -1)
      spans += s
      s
    }
    val sc = spark.sparkContext
    current.set(s)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = nowMs
      current.set(parent)
      if (parent == null) sc.clearJobGroup()
      else sc.setJobGroup(s"span-${parent.id}", parent.name, interruptOnCancel = false)
    }
  }

  /** The innermost open span on this thread (0 when none). */
  def currentId: Int = Option(current.get()).map(_.id).getOrElse(0)

  /** Micro-batches of the query with `runId` belong to span `spanId`. */
  def linkQuery(runId: java.util.UUID, spanId: Int): Unit =
    if (enabled) synchronized { queryLinks += (runId.toString -> spanId) }

  /** A per-layer count measured by the benchmark at a layer boundary. */
  def count(name: String, v: Double): Unit =
    if (enabled) synchronized { counts(name) = counts.getOrElse(name, 0.0) + v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, g, e.time, e.stageIds.size)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.scanBytes += m.inputMetrics.bytesRead
        j.scanRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> Json.num(v.longValue()) }.toSeq
      val st = p.stateOperators.map { s =>
        Json.obj("commit_ms" -> Json.num(s.commitTimeMs),
          "memory_bytes" -> Json.num(s.memoryUsedBytes),
          "rows_updated" -> Json.num(s.numRowsUpdated),
          "stores" -> Json.num(s.numStateStoreInstances.toLong),
          "custom" -> Json.obj(s.customMetrics.asScala.toSeq.map { case (k, v) =>
            k -> Json.num(v.longValue()) }: _*))
      }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val line = Json.obj("run_id" -> Json.str(p.runId.toString),
        "batch" -> Json.num(p.batchId), "start" -> Json.num(start),
        "rows" -> Json.num(p.numInputRows), "duration" -> Json.obj(d: _*),
        "state" -> Json.arr(st.toSeq))
      Tracer.this.synchronized { progress += line }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (k, v) =>
        k -> Json.obj("start" -> Json.num(v.startTimeMs), "ms" -> Json.num(v.durationMs))
      }
      val line = Json.obj("func" -> Json.str(funcName),
        "exec_ms" -> Json.num(durationNs / 1e6), "phases" -> Json.obj(ph: _*))
      Tracer.this.synchronized { plans += line }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  /** Wait for the listener buses to deliver, then detach the listeners. */
  def close(): Unit = if (enabled) {
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }

  def json: String = synchronized {
    if (!enabled) return "null"
    Json.obj(
      "spans" -> Json.arr(spans.toSeq.map(s => Json.obj("id" -> Json.num(s.id.toLong),
        "parent" -> Json.num(s.parent.toLong), "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start" -> Json.num(s.start),
        "end" -> Json.num(s.end)))),
      "jobs" -> Json.arr(jobs.values.toSeq.map(j => Json.obj("id" -> Json.num(j.id.toLong),
        "group" -> Json.str(j.group), "start" -> Json.num(j.start),
        "end" -> Json.num(j.end), "stages" -> Json.num(j.stages.toLong),
        "tasks" -> Json.num(j.tasks.toLong), "run_ms" -> Json.num(j.runMs),
        "cpu_ms" -> Json.num(j.cpuNs / 1e6), "gc_ms" -> Json.num(j.gcMs),
        "shuffle_write_bytes" -> Json.num(j.shWrite),
        "shuffle_read_bytes" -> Json.num(j.shRead),
        "fetch_wait_ms" -> Json.num(j.fetchWaitMs),
        "scan_bytes" -> Json.num(j.scanBytes), "scan_rows" -> Json.num(j.scanRows)))),
      "progress" -> Json.arr(progress.toSeq),
      "plans" -> Json.arr(plans.toSeq),
      "query_links" -> Json.obj(queryLinks.toSeq.map { case (r, s) => r -> Json.num(s.toLong) }: _*),
      "counts" -> Json.obj(counts.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
  }
}

object Tracer {
  private final case class Span(id: Int, parent: Int, name: String, layer: String,
      start: Double, var end: Double)
  private final case class Job(id: Int, group: String, start: Long, stages: Int,
      var end: Long = -1L, var tasks: Int = 0, var runMs: Long = 0L,
      var cpuNs: Long = 0L, var gcMs: Long = 0L, var shWrite: Long = 0L,
      var shRead: Long = 0L, var fetchWaitMs: Long = 0L, var scanBytes: Long = 0L,
      var scanRows: Long = 0L)
}
