package kgbench

/** The per-layer record: its derivation from one traced job's spans and
 *  counts (BENCHMARK.json's `per_layer` lists the names and units). Layers
 *  are named after the program's modules; a span belongs to layer L when
 *  its name is L or starts with "L.". */
object Layers {

  private def ratio(a: Double, b: Double) = if (b == 0.0) 0.0 else a / b

  private def skew(ts: Seq[TaskTotals]): Double = {
    val all = new TaskTotals
    ts.foreach(t => all.runMs ++= t.runMs)
    all.taskSkew
  }

  /** Layer metrics of traced job `job`. `counts` holds the row counts the
   *  composition took; `written` is (bytes, files) the job committed. */
  def ofJob(tr: Tracer, job: Int, counts: collection.Map[String, Double],
            written: (Long, Long)): Map[String, Double] = {
    val spans = tr.spans.filter(_.job == job).toSeq
    def of(layer: String) = spans.filter(s => s.name == layer || s.name.startsWith(layer + "."))
    def busy(layer: String) = of(layer).map(tr.selfNs).sum / 1e9
    def tot(layer: String) = of(layer).map(_.totals)
    def cpu(layer: String) = tot(layer).map(_.cpuNs).sum / 1e9
    def shuffle(layer: String) = tot(layer).map(_.shuffleWriteBytes).sum / 1e6
    def n(k: String) = counts.getOrElse(k, 0.0)
    val writes = spans.filter(_.name == "io.write")
    // driver-side share of a TableIO.write: its wall time outside Spark jobs
    // (pointer write + atomic rename + re-opening the snapshot)
    val commitMs = writes.map { s =>
      math.max(0.0, s.durNs / 1e6 - s.totals.jobWindows.map { case (a, b) => b - a }.sum)
    }
    Map(
      "nlp.busy_s" -> busy("nlp"), "nlp.task_cpu_s" -> cpu("nlp"),
      "nlp.pages_in" -> n("nlp.pages_in"),
      "nlp.admitted_ratio" -> ratio(n("nlp.admitted"), n("nlp.pages_in")),
      "nlp.sentences_out" -> n("nlp.sentences_out"),
      "extract.busy_s" -> busy("extract"), "extract.task_cpu_s" -> cpu("extract"),
      "extract.candidates" -> n("extract.candidates"),
      "extract.fills_out" -> n("extract.fills_out"),
      "consistency.groups" -> n("consistency.groups"),
      "consistency.max_group_rows" -> n("consistency.max_group_rows"),
      "bags.busy_s" -> busy("bags"), "bags.fills_in" -> n("bags.fills_in"),
      "bags.bags_out" -> n("bags.bags_out"),
      "bags.dup_ratio" -> ratio(n("bags.fills_in"), n("bags.bags_out")),
      "bags.gate_kept_ratio" -> ratio(n("bags.gate_kept"), n("bags.bags_out")),
      "bags.shuffle_mb" -> shuffle("bags"),
      "bags.spill_mb" -> tot("bags").map(_.spillBytes).sum / 1e6,
      "bags.peak_exec_mb" -> (0L +: tot("bags").map(_.peakExecBytes)).max / 1e6,
      "bags.task_skew" -> skew(tot("bags")),
      "link.busy_s" -> busy("link"), "link.jobs" -> tot("link").map(_.jobs.size).sum.toDouble,
      "link.names" -> n("link.names"), "link.alias_pairs" -> n("link.alias_pairs"),
      "link.aliases" -> n("link.aliases"),
      "link.resolution_rate" -> ratio(n("link.aliases"), n("link.names")),
      "link.cached_mb" -> n("link.cached_mb"),
      "triples.busy_s" -> busy("triples"), "triples.rows_out" -> n("triples.rows_out"),
      "triples.shuffle_mb" -> shuffle("triples"), "triples.task_skew" -> skew(tot("triples")),
      "incremental.busy_s" -> busy("incremental"),
      "incremental.redo_pages" -> n("incremental.redo_pages"),
      "incremental.redo_ratio" -> ratio(n("incremental.redo_pages"), n("incremental.planted")),
      "incremental.reused_fills" -> n("incremental.reused_fills"),
      "incremental.shuffle_mb" -> shuffle("incremental"),
      "io.write_s" -> writes.map(_.durNs).sum / 1e9,
      "io.read_s" -> spans.filter(_.name == "io.read").map(_.durNs).sum / 1e9,
      "io.written_mb" -> written._1 / 1e6, "io.files_written" -> written._2.toDouble,
      "io.commit_ms" -> (if (commitMs.isEmpty) 0.0 else Stats.median(commitMs)))
  }

  /** Whole-job Spark metrics of one untraced job. */
  def ofSparkJob(t: TaskTotals): Map[String, Double] = Map(
    "spark.jobs" -> t.jobs.size.toDouble, "spark.stages" -> t.stages.size.toDouble,
    "spark.tasks" -> t.tasks.toDouble,
    "spark.empty_task_ratio" -> ratio(t.emptyTasks.toDouble, t.tasks.toDouble),
    "spark.task_skew" -> t.taskSkew, "spark.spill_mb" -> t.spillBytes / 1e6)
}
