package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (the launcher `run.py` builds it). */
final case class Opts(workload: Option[String], seed: Long, seconds: Double,
    trace: Boolean, sfDir: String, warmDir: String, work: Path, out: Path,
    golden: Path, docsPerBatch: Int, countTable: Option[Path])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def p(k: String) = Paths.get(m(k))
    Opts(m.get("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("sf"), m("warm-sf"), p("work"), p("out"), p("golden"), m("docs-per-batch").toInt,
      m.get("count-table").map(Paths.get(_)))
  }
}

/** A workload: its set-up (inputs and warm-up) and its fixed list of
  * timed ops. */
trait Workload {
  def setup(h: Harness): Unit
  def ops: Seq[String]
  def run(h: Harness, op: String): OpResult
  /** Per-layer values only this workload can measure (traced runs). */
  def layerExtras: Map[String, Double] = Map.empty
}

object Main {
  val Cores = 4

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def readTsv(p: Path): Seq[Array[String]] =
    Files.readAllLines(p, UTF_8).toArray.toSeq.map(_.toString)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))

  def golden(o: Opts): Map[String, Long] = {
    val sf = Paths.get(o.sfDir).getFileName.toString
    readTsv(o.golden).collect { case Array(`sf`, q, n) => q -> n.toLong }.toMap
  }

  def workload(o: Opts): Workload = o.workload.get match {
    // A unit is one pass over the loop queries, in a fixed order: the
    // ops are few and unequal, and a seeded order would move which op
    // pays a first execution's extra cost, and with it the median. The
    // unit cost is nominal seconds in a fresh JVM on a 4-core host.
    case "iterative_ops" =>
      val (set, unitCost) =
        if (o.trace) (Contract.Iterative ++ Contract.Streaming, 40.0)
        else (Contract.IterativeTimed, 20.0)
      val n = Contract.unitsFor(o.seconds, unitCost)
      new QueryWorkload(o, Seq.fill(n)(set).flatten, golden(o))
    case "micmac_ingest" => new IngestWorkload(o)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Runs one op and returns its result with the listener deltas it
    * caused and the micro-batch trigger times it produced; then a GC,
    * so one op's garbage is not charged to the next, and a sample of
    * the live heap it leaves. */
  def measure(h: Harness, wl: Workload, op: String)
      : (OpResult, Map[String, Double], Seq[Double]) = {
    val before = h.snapshot()
    val r = wl.run(h, op)
    h.drain()
    val (triggers, state) = h.streams.map { s =>
      val (t, rows, mem) = s.take()
      (t, Map("streaming.state_rows" -> rows, "streaming.state_memory_bytes" -> mem))
    }.getOrElse((Nil, Map.empty[String, Double]))
    h.sampleHeap()
    if (!r.ok) System.err.println(s"[graftbench] op ${r.label} failed: ${r.err.get}")
    (r, Counters.delta(h.snapshot(), before) ++ r.layer ++ state, triggers)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    o.countTable match {
      case Some(out) => CountTable.run(o, out)
      case None => runWorkload(o)
    }
  }

  def runWorkload(o: Opts): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = workload(o)
    val spark = session(o)
    val h = new Harness(spark, o.trace)
    wl.setup(h)
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3
    h.sampleHeap()

    // a run that falls far behind its nominal cost stops starting ops
    // in time to end inside the launcher's JVM timeout
    val cap = 120.0
    val done = mutable.ArrayBuffer.empty[(OpResult, Map[String, Double], Seq[Double])]
    val t0 = System.nanoTime()
    val it = wl.ops.iterator
    while (it.hasNext && (System.nanoTime() - t0) / 1e9 < cap) done += measure(h, wl, it.next())
    val extras = if (o.trace) wl.layerExtras else Map.empty[String, Double]
    spark.stop()

    val results = done.map(_._1).toSeq
    val layer = done.map(_._2).toSeq
    val okWalls = results.filter(_.ok).map(_.wall)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setup, "s"),
        ("op_p50_s", Stats.median(okWalls), "s"),
        ("ops_per_s", okWalls.size / results.map(_.wall).sum, "1/s"),
        ("heap_live_peak_mb", h.heapPeakMb, "MiB"))
      else Layers.report(results, layer, extras, done.flatMap(_._3).toSeq, Cores)
    val table =
      if (o.trace && !o.workload.contains("micmac_ingest")) Some(CountTable.rows(results, layer))
      else None
    Report.write(o, setup, metrics, results.zip(layer), table)
  }
}

/** Contract queries as ops. */
final class QueryWorkload(o: Opts, timed: Seq[String], gold: Map[String, Long])
    extends Workload {
  /** Warm-up on the small fixture: loads the classes and code paths
    * every query shares before timing starts. */
  private val warm = Seq("q_scan_pruned_count")

  def setup(h: Harness): Unit = {
    h.spark.range(1000).selectExpr("sum(id)").collect()
    warm.foreach { q =>
      h.materialize(graft.SparkEntry.queries(q)(h.spark, o.warmDir))
    }
  }
  def ops: Seq[String] = timed
  def run(h: Harness, op: String): OpResult = Contract.runQuery(h, o.sfDir, op, gold)
}

/** MicMac import batches as ops. */
final class IngestWorkload(o: Opts) extends Workload {
  private var ingest: Ingest = _
  private var batches: Seq[Seq[Doc]] = Nil
  /** Nominal seconds of one batch of 500 documents on a 4-core host. */
  private val batchCost = 18.0

  def setup(h: Harness): Unit = {
    val corpus = new Corpus(o.work.resolve("corpus"), o.seed)
    val first = corpus.fresh(o.docsPerBatch)
    val n = Contract.unitsFor(o.seconds, batchCost)
    batches = Ingest.plan(corpus, n, o.docsPerBatch, new Random(o.seed + 1), first)
    ingest = new Ingest(h, o.work.resolve("store").toString)
    val r = ingest.batch("setup", first)
    require(r.ok, s"set-up batch failed: ${r.err.getOrElse("")}")
  }
  def ops: Seq[String] = batches.indices.map(i => s"batch_$i")
  def run(h: Harness, op: String): OpResult =
    ingest.batch(op, batches(op.stripPrefix("batch_").toInt))

  override def layerExtras: Map[String, Double] = {
    val (files, bytes, scan) = ingest.storeStats()
    val input = ingest.importedDocs.map(_.bytes).sum.toDouble
    Map("sources.gl_data_files" -> files.toDouble,
      "sources.gl_bytes_on_disk" -> bytes.toDouble, "sources.gl_scan_tasks" -> scan.toDouble,
      "sources.store_bytes_per_input_byte" -> bytes / input)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
