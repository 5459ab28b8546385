package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Outcome of one timed op. `wall` covers only the timed calls; output
  * checks run after it. `layer` carries the values the op measured
  * itself (phase times, docs, poses); the harness adds listener deltas. */
final case class OpResult(label: String, wall: Double, ok: Boolean,
    err: Option[String], layer: Map[String, Double])

/** One Spark session plus the benchmark's listeners on it. The query
  * listener is always on (it carries the observed row counts the output
  * checks read); the scheduler and streaming listeners only when traced. */
final class Harness(val spark: SparkSession, val trace: Boolean) {
  val queries = new QueryCounters
  spark.listenerManager.register(queries)
  val sched: Option[SparkCounters] =
    if (trace) Some(new SparkCounters) else None
  sched.foreach(spark.sparkContext.addSparkListener)
  val streams: Option[StreamCounters] =
    if (trace) Some(new StreamCounters) else None
  streams.foreach(spark.streams.addListener)

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  def snapshot(): Map[String, Double] =
    if (!trace) Map.empty
    else sched.get.c.snapshot() ++ queries.c.snapshot() ++ streams.get.c.snapshot()

  private var obsSeq = 0

  /** Materializes `df` the way `graft.Bench` does (a `noop` write that
    * consumes every column of every row) and observes its row count.
    * Returns the observation name to read after the op. */
  def materialize(df: DataFrame): String = {
    obsSeq += 1
    val name = QueryCounters.Prefix + obsSeq
    df.observe(name, count(lit(1))).write.mode("overwrite").format("noop").save()
    name
  }

  /** Observed row count of a finished materialization. */
  def rows(name: String): Option[Long] = { drain(); queries.rows(name) }

  /** Runs `body`; returns its seconds. */
  def phase(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private var heapPeak = 0.0

  /** Records the old generation's occupancy right after a full GC;
    * `heapPeakMb` is the largest such sample. Spark's ContextCleaner
    * frees the blocks, shuffles and broadcasts of collected objects on
    * its own thread after a GC, so GCs repeat until the occupancy
    * settles and the sample does not depend on when that thread ran. */
  def sampleHeap(): Unit = {
    var prev = -1.0
    var cur = Harness.oldGenAfterGcMb()
    var i = 0
    while (math.abs(cur - prev) >= 0.5 && i < 20) {
      Thread.sleep(100)
      prev = cur
      cur = Harness.oldGenAfterGcMb()
      i += 1
    }
    heapPeak = math.max(heapPeak, cur)
  }
  def heapPeakMb: Double = heapPeak
}

object Harness {
  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Runs a full GC; returns the old generation's occupancy in MiB
    * after it. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    oldGen.map(_.getCollectionUsage.getUsed / 1048576.0).getOrElse(0.0)
  }

  def errText(t: Throwable): String =
    t.getClass.getSimpleName + ": " +
      String.valueOf(t.getMessage).replaceAll("\\s+", " ").take(300)
}
