package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch microseconds, monotonic within the run: one
  * `currentTimeMillis` anchor plus `nanoTime` deltas, so bench spans and
  * Spark listener timestamps (epoch ms) share a time base. */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def us(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** In-memory span and count recorder for the benchmark's own calls into
  * the engine. `on` gates recording per operation: in a traced run the
  * workloads alternate traced and untraced operations, so the same run
  * yields both the per-layer trace and the overhead tracing adds. */
final class Tracer(val traced: Boolean) {
  @volatile var on: Boolean = false
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val counts = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val parent = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def span[A](name: String, layer: String, op: Long)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val up = parent.get()
      parent.set(id)
      val start = Clock.us()
      try body
      finally {
        val end = Clock.us()
        parent.set(up)
        synchronized {
          spans += Map("id" -> id, "name" -> name, "layer" -> layer, "op" -> op,
            "parent" -> up, "start_us" -> start, "end_us" -> end)
        }
      }
    }

  def count(name: String, op: Long, value: Double): Unit =
    if (on) synchronized { counts += Map("name" -> name, "op" -> op, "value" -> value) }

  def dump(): Map[String, Any] = synchronized(Map("spans" -> spans.toList, "counts" -> counts.toList))
}

/** Bench-registered listeners for the traced run: Spark jobs, stages and
  * task metrics, query-planning phases, and streaming progress. Events
  * are kept raw (times in epoch ms) and attributed to operations by time
  * when the run is analysed. */
final class Listeners {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def stage(id: Int) = stages.getOrElseUpdate(id, mutable.Map[String, Any](
    "stage" -> id, "tasks" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L,
    "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L, "spill_bytes" -> 0L,
    "result_bytes" -> 0L, "scans" -> 0L))
  private def add(m: mutable.Map[String, Any], k: String, v: Long): Unit =
    m(k) = m(k).asInstanceOf[Long] + v

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Listeners.this.synchronized {
      jobs(e.jobId) = mutable.Map("job" -> e.jobId, "start_ms" -> e.time,
        "end_ms" -> e.time, "stages" -> e.stageIds.toList,
        "streaming" -> Option(e.properties)
          .exists(_.getProperty("sql.streaming.queryId") != null))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Listeners.this.synchronized {
      jobs.get(e.jobId).foreach(_("end_ms") = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Listeners.this.synchronized {
        val s = stage(e.stageInfo.stageId)
        s("scans") = e.stageInfo.rddInfos.count(_.name.contains("FileScanRDD")).toLong
        s("submitted") = true
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Listeners.this.synchronized {
      val s = stage(e.stageId)
      add(s, "tasks", 1L)
      Option(e.taskMetrics).foreach { m =>
        add(s, "run_ms", m.executorRunTime)
        add(s, "cpu_ns", m.executorCpuTime)
        add(s, "gc_ms", m.jvmGCTime)
        add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(s, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(s, "result_bytes", m.resultSize)
      }
    }
  }

  val execution: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val ms = phases.map(p => p.endTimeMs - p.startTimeMs).sum
      Listeners.this.synchronized {
        plans += Map("end_ms" -> System.currentTimeMillis(), "plan_ms" -> ms)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val row = Listeners.progressRow(e.progress)
      Listeners.this.synchronized { progress += row }
    }
  }

  def dump(): Map[String, Any] = synchronized(Map(
    "jobs" -> jobs.values.map(_.toMap).toList,
    "stages" -> stages.values.map(_.toMap).toList,
    "plans" -> plans.toList,
    "progress" -> progress.toList))
}

object Listeners {
  /** One micro-batch's progress: trigger start (epoch ms), phase
    * durations, input rows, and the source's end offset. */
  def progressRow(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] =
    Map(
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "rows" -> p.numInputRows,
      "end_offset" -> p.sources.headOption.map(_.endOffset).orNull)
}
