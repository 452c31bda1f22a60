package graft.perfbench

/** One reported metric. `n` is its sample count; `note` says how it was
  * obtained. */
final case class Metric(name: String, unit: String, value: Double, n: Int,
    note: String, summary: Option[Stats.Summary] = None) {
  def line: String = summary.fold(f"$name $value%.4f $unit (n=$n; $note)")(
    s => s"$name ${s.render(unit)} ($note)")
}

object Metric {
  /** A timing: median of the samples, with the tail percentile the
    * sample count supports. */
  def timing(name: String, unit: String, xs: Seq[Double],
      note: String): Metric =
    if (xs.isEmpty) Metric(name, unit, Double.NaN, 0, note)
    else {
      val s = Stats.summarize(xs)
      Metric(name, unit, s.median, s.n, note, Some(s))
    }

  /** Every end-to-end metric: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq("run_s" -> "s", "setup_s" -> "s")

  /** Every per-layer metric: (name, unit, better). A workload that does
    * not touch a layer reports 0 for it. */
  val PerLayer: Seq[(String, String, String)] = Seq(
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("jvm.cpu_util", "ratio", "higher"),
    ("sources.gen_s", "s", "lower"),
    ("sources.rows", "count", "higher"),
    ("epsjoin.s", "s", "lower"),
    ("epsjoin.jobs", "count", "lower"),
    ("epsjoin.pairs", "count", "lower"),
    ("epsjoin.pairs_per_point", "ratio", "lower"),
    ("epsjoin.shuffle_write_mb", "MB", "lower"),
    ("epsjoin.salt_cells", "count", "lower"),
    ("dbscan.dist_s", "s", "lower"),
    ("dbscan.dist_jobs", "count", "lower"),
    ("dbscan.fused_s", "s", "lower"),
    ("dbscan.fused_jobs", "count", "lower"),
    ("dbscan.cores", "count", "higher"),
    ("dbscan.clusters", "count", "higher"),
    ("dbscan.noise", "count", "lower"),
    ("cc.s", "s", "lower"),
    ("cc.jobs", "count", "lower"),
    ("cc.edges", "count", "lower"),
    ("cc.components", "count", "lower"),
    ("cc.levels", "count", "lower")) ++
    GraphWorkload.Queries.flatMap { q =>
      val p = s"graph.${GraphWorkload.short(q)}"
      Seq((s"$p.s", "s", "lower"), (s"$p.jobs", "count", "lower"),
        (s"$p.shuffle_write_mb", "MB", "lower"))
    } ++ Seq(
    ("graph.dist_s", "s", "lower"),
    ("graph.fused_s", "s", "lower"),
    ("graph.jobs_per_round", "count", "lower"),
    ("ann.build_s", "s", "lower"),
    ("ann.build_jobs", "count", "lower"),
    ("ann.build_shuffle_write_mb", "MB", "lower"),
    ("ann.serve_s", "s", "lower"),
    ("ann.serve_jobs", "count", "lower"),
    ("ann.graph_recall_at_10", "ratio", "higher"),
    ("ann.recall_at_10", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"))

  /** How each per-layer number is obtained (the default is `call`: a
    * span around a call the timed run makes). */
  val Source: Map[String, String] =
    Seq("spark.", "jvm.").flatMap(p => PerLayer.map(_._1)
      .filter(_.startsWith(p))).map(_ -> "runtime: whole traced run").toMap ++
    PerLayer.map(_._1).filter(k => k.startsWith("epsjoin.") ||
      k.startsWith("cc.") || k == "dbscan.cores")
      .map(_ -> "isolated call, traced runs only").toMap ++
    Seq("ann.graph_recall_at_10", "ann.recall_at_10", "epsjoin.pairs_per_point",
      "graph.jobs_per_round", "graph.dist_s", "graph.fused_s")
      .map(_ -> "derived").toMap
}
