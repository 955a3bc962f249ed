package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What one query execution did, as seen through Spark's listener APIs. */
final class Counters {
  val n: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
  /** Spark jobs as [start, end] epoch ms. */
  val jobs: mutable.ArrayBuffer[Array[Double]] = mutable.ArrayBuffer.empty
  /** Streaming micro-batches as [start, end] epoch ms. */
  val batches: mutable.ArrayBuffer[Array[Double]] = mutable.ArrayBuffer.empty

  def add(k: String, v: Long): Unit = n(k) = n.getOrElse(k, 0L) + v
}

object Counters {
  /** Every counter key, so a record always carries all of them. */
  val Keys: Seq[String] = Seq(
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.actions", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.task_gc_ms",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
    "tables.input_bytes", "tables.input_rows", "streaming.batches",
    "streaming.batch_ms", "streaming.planning_ms", "streaming.add_batch_ms",
    "streaming.commit_ms", "streaming.state_rows")
}

/** One listener object behind the three public listener APIs.
  *
  * The harness brackets each query with [[begin]] / [[end]] and drains
  * the listener bus before [[end]], so every event handled in between
  * belongs to the open query. Tasks are attributed through their stage's
  * job, so a task that reports after its job ended still lands on the
  * query that submitted it.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private var cur: Counters = new Counters
  private val stageOwner = mutable.HashMap.empty[Int, Counters]
  private val jobOpen = mutable.HashMap.empty[Int, (Counters, Double)]

  def begin(): Unit = synchronized { cur = new Counters }
  def end(): Counters = synchronized { val c = cur; cur = new Counters; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.add("exec.jobs", 1)
    e.stageIds.foreach(stageOwner(_) = cur)
    jobOpen(e.jobId) = (cur, e.time.toDouble)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (c, start) =>
      c.jobs += Array(start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.getOrElse(e.stageInfo.stageId, cur).add("exec.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageOwner.getOrElse(e.stageId, cur)
    c.add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("exec.task_run_ms", m.executorRunTime)
      c.add("exec.task_cpu_ms", m.executorCpuTime / 1000000L)
      c.add("exec.task_gc_ms", m.jvmGCTime)
      c.add("shuffle.read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      c.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      c.add("shuffle.spill_bytes", m.diskBytesSpilled)
      c.add("tables.input_bytes", m.inputMetrics.bytesRead)
      c.add("tables.input_rows", m.inputMetrics.recordsRead)
    }
  }

  private def planning(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    cur.add("catalyst.actions", 1)
    cur.add("catalyst.analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L))
    cur.add("catalyst.optimization_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L))
    cur.add("catalyst.planning_ms", ph.get("planning").map(_.durationMs).getOrElse(0L))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)

  /** Micro-batch progress, registered through `spark.streams.addListener`. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val total = d("triggerExecution")
        cur.add("streaming.batches", 1)
        cur.add("streaming.batch_ms", total)
        cur.add("streaming.planning_ms", d("queryPlanning"))
        cur.add("streaming.add_batch_ms", d("addBatch"))
        cur.add("streaming.commit_ms", d("walCommit") + d("commitOffsets"))
        cur.add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        cur.batches += Array(start, start + total)
      }
  }
}
