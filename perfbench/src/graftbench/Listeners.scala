package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Additive counters keyed by metric name. Listener threads add, the
  * benchmark thread snapshots between ops (after draining the bus). */
final class Counters {
  private val m = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def snapshot(): Map[String, Double] = synchronized { m.toMap }
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Scheduler-level counts (the `spark` layer). */
final class SparkCounters extends SparkListener {
  val c = new Counters

  override def onJobStart(e: SparkListenerJobStart): Unit = c.add("spark.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.add("spark.tasks", 1)
    val tm = e.taskMetrics
    if (tm != null) {
      c.add("spark.task_run_s", tm.executorRunTime / 1e3)
      c.add("spark.task_cpu_s", tm.executorCpuTime / 1e9)
      c.add("spark.gc_s", tm.jvmGCTime / 1e3)
      c.add("spark.shuffle_write_bytes", tm.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("spark.shuffle_read_bytes", tm.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("spark.spill_bytes", tm.diskBytesSpilled.toDouble)
      c.add("spark.input_bytes", tm.inputMetrics.bytesRead.toDouble)
    }
  }
}

/** SQL executions and their QueryPlanningTracker phases (the `queries`
  * layer). Always registered: it is also how the benchmark reads the
  * row count each op observes for its output check. */
final class QueryCounters extends QueryExecutionListener {
  val c = new Counters
  private val observed = new ConcurrentHashMap[String, Long]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    c.add("queries.sql_executions", 1)
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => c.add(s"queries.${p}_s", s.durationMs / 1e3))
    }
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith(QueryCounters.Prefix)) observed.put(name, row.getLong(0))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    c.add("queries.sql_executions", 1)

  /** Row count observed under `name`, once the bus is drained. */
  def rows(name: String): Option[Long] = Option(observed.remove(name)).map(_.longValue)
}

object QueryCounters {
  val Prefix = "graftbench_rows_"
}

/** Micro-batch phase timings and state-store sizes (the `streaming`
  * layer). Times are summed over micro-batches; state sizes are taken
  * from each stream query's last progress. */
final class StreamCounters extends StreamingQueryListener {
  val c = new Counters
  private val triggers = mutable.ArrayBuffer.empty[Double]
  private val lastState = mutable.Map.empty[java.util.UUID, (Double, Double)]

  private val phases = Seq("triggerExecution" -> "trigger_s", "addBatch" -> "add_batch_s",
    "queryPlanning" -> "query_planning_s", "walCommit" -> "wal_commit_s",
    "commitOffsets" -> "commit_offsets_s", "latestOffset" -> "latest_offset_s",
    "getBatch" -> "get_batch_s")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    c.add("streaming.microbatches", 1)
    phases.foreach { case (k, name) =>
      d.get(k).foreach(v => c.add(s"streaming.$name", v.doubleValue / 1e3))
    }
    val state = p.stateOperators
    state.foreach(s => c.add("streaming.state_commit_s", s.commitTimeMs / 1e3))
    synchronized {
      d.get("triggerExecution").foreach(v => triggers += v.doubleValue / 1e3)
      lastState(p.id) = (state.map(_.numRowsTotal.toDouble).sum,
        state.map(_.memoryUsedBytes.toDouble).sum)
    }
  }

  /** Trigger times and final state sizes recorded since the last call. */
  def take(): (Seq[Double], Double, Double) = synchronized {
    val t = triggers.toList
    val rows = lastState.values.map(_._1).sum
    val mem = lastState.values.map(_._2).sum
    triggers.clear()
    lastState.clear()
    (t, rows, mem)
  }
}
