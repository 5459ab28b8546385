package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run, per op unless named otherwise.
  * Every name is always reported; a layer a workload does not exercise
  * reads 0. */
object Layers {
  private val spark = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_run_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "input_bytes" -> "bytes").map { case (k, u) => s"spark.$k" -> u }
  private val queries = Seq("build_s" -> "s", "run_s" -> "s", "sql_executions" -> "count",
    "analysis_s" -> "s", "optimization_s" -> "s", "planning_s" -> "s")
    .map { case (k, u) => s"queries.$k" -> u }
  private val etl = Seq("import_write_s" -> "s", "upsert_s" -> "s", "validate_s" -> "s",
    "compose_s" -> "s", "docs" -> "count", "poses" -> "count", "violations" -> "count")
    .map { case (k, u) => s"etl.$k" -> u }
  private val streaming = Seq("microbatches" -> "count", "trigger_s" -> "s",
    "add_batch_s" -> "s", "query_planning_s" -> "s", "wal_commit_s" -> "s",
    "commit_offsets_s" -> "s", "latest_offset_s" -> "s", "get_batch_s" -> "s",
    "state_rows" -> "count", "state_commit_s" -> "s", "state_memory_bytes" -> "bytes")
    .map { case (k, u) => s"streaming.$k" -> u }
  /** Summed per op and reported as the mean over ops. */
  val PerOp: Seq[(String, String)] =
    spark ++ queries ++ etl ++ streaming ++
      Seq("sources.gl_append_s" -> "s", "sources.xml_fetch_s" -> "s",
        "sources.xml_fetch_tasks" -> "count")

  /** Store state at the end of the run (micmac_ingest). */
  val StoreState: Seq[(String, String)] = Seq("sources.gl_data_files" -> "count",
    "sources.gl_scan_tasks" -> "count", "sources.gl_bytes_on_disk" -> "bytes",
    "sources.store_bytes_per_input_byte" -> "ratio")

  def report(results: Seq[OpResult], layer: Seq[Map[String, Double]],
      extras: Map[String, Double], triggers: Seq[Double],
      cores: Int): Seq[(String, Double, String)] = {
    val n = math.max(results.size, 1)
    def sum(k: String) = layer.map(_.getOrElse(k, 0.0)).sum
    val wall = results.map(_.wall).sum
    val perOp = PerOp.map { case (k, u) => (k, sum(k) / n, u) }
    val iter = Contract.Iterative.flatMap { q =>
      val runs = results.zip(layer).filter(_._1.label == q)
      val jobs = runs.map(_._2.getOrElse("spark.jobs", 0.0))
      Seq((s"iter.$q.jobs", jobs.sum / math.max(runs.size, 1), "count"),
        (s"iter.$q.p50_s", Stats.median(runs.map(_._1.wall)), "s"))
    }
    val derived = Seq(
      ("spark.slot_busy_ratio",
        if (wall > 0) sum("spark.task_run_s") / (wall * cores) else 0.0, "ratio"),
      ("etl.docs_per_s", if (sum("etl.docs") > 0) sum("etl.docs") / wall else 0.0, "1/s"),
      ("streaming.microbatch_p50_s", Stats.median(triggers), "s"),
      ("trace.op_p50_s", Stats.median(results.filter(_.ok).map(_.wall)), "s"))
    val store = StoreState.map { case (k, u) => (k, extras.getOrElse(k, 0.0), u) }
    perOp ++ derived ++ iter ++ store
  }
}

/** The per-query count table of a traced run: the counts the scheduler
  * reports are exact and host-independent, so two tables compare
  * exactly; wall times carry their own spread. */
object CountTable {
  val Header: Seq[String] = Seq("query", "runs", "ok", "rows", "jobs", "stages", "tasks",
    "microbatches", "shuffle_write_bytes", "shuffle_read_bytes", "counts_stable",
    "wall_p50_s", "wall_min_s", "wall_max_s")
  /** Exact counts; a query whose runs disagree on one is unstable. */
  private val exact = Seq("out.rows", "spark.jobs", "spark.stages", "spark.tasks",
    "streaming.microbatches")
  /** Compressed shuffle block sizes shift slightly with row order. */
  private val bytes = Seq("spark.shuffle_write_bytes", "spark.shuffle_read_bytes")

  def rows(results: Seq[OpResult], layer: Seq[Map[String, Double]]): Seq[Seq[String]] =
    results.zip(layer).groupBy(_._1.label).toSeq.sortBy(_._1).map { case (q, runs) =>
      def col(k: String) = runs.map(_._2.getOrElse(k, 0.0).toLong)
      val counts = runs.map(r => exact.map(k => r._2.getOrElse(k, 0.0).toLong))
      if (counts.distinct.size > 1)
        System.err.println(s"[graftbench] $q counts differ between runs: " +
          counts.map(_.mkString(",")).mkString(" / "))
      val walls = runs.map(_._1.wall)
      Seq(q, runs.size.toString, if (runs.forall(_._1.ok)) "1" else "0") ++
        counts.head.map(_.toString) ++
        bytes.map(k => Stats.median(col(k).map(_.toDouble)).toLong.toString) ++
        Seq(if (counts.distinct.size == 1) "1" else "0",
          f"${Stats.median(walls)}%.4f", f"${walls.min}%.4f", f"${walls.max}%.4f")
    }

  def write(out: Path, rows: Seq[Seq[String]]): Unit =
    Files.write(out,
      (Header +: rows).map(_.mkString("\t")).mkString("", "\n", "\n").getBytes(UTF_8))

  /** Every contract query, two passes in one JVM, traced. */
  def run(o: Opts, out: Path): Unit = {
    val spark = Main.session(o)
    val h = new Harness(spark, trace = true)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val wl = new QueryWorkload(o, names ++ names, Main.golden(o))
    wl.setup(h)
    val done = wl.ops.map(q => Main.measure(h, wl, q))
    spark.stop()
    write(out, rows(done.map(_._1), done.map(_._2)))
  }
}

/** The run's result file: the contract's four keys plus the samples and
  * errors behind them. The launcher prints the four keys. */
object Report {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def write(o: Opts, setup: Double, metrics: Seq[(String, Double, String)],
      ops: Seq[(OpResult, Map[String, Double])], table: Option[Seq[Seq[String]]]): Unit = {
    val m = metrics.map { case (k, v, u) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
    }
    val perOp = ops.map { case (r, l) =>
      val kv = l.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
      s"""{"op": ${str(r.label)}, "wall_s": ${num(r.wall)}, "ok": ${r.ok}, "layer": {$kv}}"""
    }
    val failed = ops.filterNot(_._1.ok).map(_._1)
    val errors = failed.map(r => str(s"${r.label}: ${r.err.getOrElse("")}"))
    val json = Seq(s""""correct": ${failed.isEmpty && ops.nonEmpty}""",
      s""""attempted": ${ops.size}""", s""""failed": ${failed.size}""",
      s""""metrics": {${m.mkString(", ")}}""", s""""setup_s": ${num(setup)}""",
      s""""errors": [${errors.mkString(", ")}]""",
      s""""ops": [${perOp.mkString(", ")}]""").mkString("{", ", ", "}")
    Files.write(o.out, (json + "\n").getBytes(UTF_8))
    table.foreach(t =>
      CountTable.write(o.out.resolveSibling(o.out.getFileName.toString + ".counts.tsv"), t))
  }
}
