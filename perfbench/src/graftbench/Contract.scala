package graftbench

import scala.util.Random

import graft.SparkEntry

/** The contract-query workload. An op is one declared query: the
  * `SparkEntry.queries` closure call plus the `noop` write `graft.Bench`
  * uses to materialize it. Its output check compares the observed row
  * count with the golden count for the fixture. */
object Contract {

  /** The loop queries: each issues many small jobs per run. */
  val Iterative: Seq[String] = Seq("q_sql_recursive", "q_dedup_pipeline",
    "q_dedup_cluster_star", "q_graph_bfs_hops", "q_graph_pagerank",
    "q_dedup_cluster", "q_graph_tree_validate", "q_ml_kmeans",
    "q_graph_label_prop")

  /** The loop queries an untraced `iterative_ops` run times, one per
    * loop family: recursive CTE, connected components, graph frontier
    * iteration and k-means (the frame-tree loop runs in every
    * `micmac_ingest` batch). A traced run does all of [[Iterative]]
    * and [[Streaming]]. */
  val IterativeTimed: Seq[String] = Seq("q_sql_recursive", "q_dedup_cluster_star",
    "q_graph_pagerank", "q_ml_kmeans")

  /** Two streaming queries (a stream-stream join and a sliding window)
    * a traced `iterative_ops` run adds, so the streaming layer keeps
    * per-layer numbers. */
  val Streaming: Seq[String] = Seq("q_stream_stream_join_full", "q_stream_sliding")

  def runQuery(h: Harness, sfDir: String, name: String,
      golden: Map[String, Long]): OpResult = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    var t1 = t0
    var obs = ""
    var rows = -1L
    val err = try {
      val df = fn(h.spark, sfDir)
      t1 = System.nanoTime()
      obs = h.materialize(df)
      None
    } catch { case t: Throwable => Some(Harness.errText(t)) }
    val t2 = System.nanoTime()
    val checked = err.orElse {
      val got = h.rows(obs)
      rows = got.getOrElse(-1L)
      golden.get(name) match {
        case None => Some(s"no golden row count for $name")
        case Some(want) if !got.contains(want) =>
          Some(s"row count ${got.getOrElse("unobserved")} != golden $want")
        case _ => None
      }
    }
    OpResult(name, (t2 - t0) / 1e9, checked.isEmpty, checked,
      Map("queries.build_s" -> (t1 - t0) / 1e9, "queries.run_s" -> (t2 - t1) / 1e9,
        "out.rows" -> rows.toDouble))
  }

  /** How many units of nominal cost `unitCost` make about `seconds`. */
  def unitsFor(seconds: Double, unitCost: Double): Int =
    math.max(1, math.round(seconds / math.max(unitCost, 1e-3)).toInt)
}
