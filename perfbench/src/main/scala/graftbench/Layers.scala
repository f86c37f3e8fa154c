package graftbench

/** The per-layer figures of a traced run, one fixed list for every
  * workload (a layer a workload does not touch reads 0). Time figures are
  * totals over the timed phase unless named `.p50`. */
object Layers {
  val Formats = Seq("txlog", "delta", "iceberg")
  val RunnerKinds = Seq("hub", "link", "sat_v0", "pit", "control_snap_v0")
  val BuildKinds = Seq("stage", "hub", "link", "sat_v0", "sat_v1", "pit")
  val FormatOps = Seq("append", "merge", "delete", "lookup", "compact", "vacuum", "read_resolve")
  val StorageFigures = Seq("files_live" -> "count", "files_read_ratio" -> "ratio",
    "bytes_on_disk" -> "B", "log_bytes" -> "B", "versions" -> "count")
  val Streaming = Seq("trigger_s", "add_batch_s", "query_planning_s", "latest_offset_s",
    "wal_commit_s", "commit_offsets_s", "batches", "input_rows", "state_rows", "state_mem_bytes")
  val Exec = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "shuffle_read_bytes" -> "B", "shuffle_write_bytes" -> "B", "spill_bytes" -> "B",
    "scan_bytes_read" -> "B", "scan_records_read" -> "count")

  /** every per-layer metric with its unit, in report order */
  val names: Seq[(String, String)] =
    RunnerKinds.map(k => s"runner.step_s.$k" -> "s") ++
      BuildKinds.map(k => s"loaders.build_s.$k" -> "s") ++
      Seq("loaders.inserted_per_staged" -> "ratio", "meta.compile_s" -> "s") ++
      Seq("analysis", "optimization", "planning").map(p => s"catalyst.${p}_s" -> "s") ++
      Seq("catalyst.actions" -> "count", "exec.job_s" -> "s", "exec.task_skew" -> "ratio") ++
      Exec.map { case (n, u) => s"exec.$n" -> u } ++
      Formats.flatMap(f => FormatOps.map(o => s"$f.${o}_s" -> "s") ++ Seq(s"$f.driver_s" -> "s") ++
        StorageFigures.map { case (n, u) => s"$f.$n" -> u }) ++
      Streaming.map(n => s"streaming.$n" -> (if (n.endsWith("_s")) "s" else if (n.endsWith("bytes")) "B" else "count")) ++
      Seq("jvm.gc_s" -> "s", "jvm.gc_count" -> "count",
        "trace.op_s.p50" -> "s", "trace.child_share" -> "ratio")

  def collect(report: Report, wall: Double, gcS: Double, gcN: Double,
              all: Seq[Double]): Seq[(String, Double, String)] = {
    val spans = Trace.allSpans
    val bd = Trace.breakdown()
    val byId = spans.map(s => s.id -> s).toMap
    def spanSum(name: String) = spans.filter(_.name == name).map(_.dur).sum / 1e9
    def prefixSum(p: String) = spans.filter(_.name.startsWith(p)).map(_.dur).sum / 1e9
    def driver(fmt: String) = spans.filter { s =>
      s.name.startsWith(fmt + ".") && !byId.get(s.parent).exists(_.name.startsWith(fmt + "."))
    }.map(s => s.dur - bd(s.id)._2).sum / 1e9
    val ops = spans.filter(_.parent == 0)
    val covered = ops.map(s => s.dur - bd(s.id)._1).sum.toDouble / math.max(1L, ops.map(_.dur).sum)

    val v: Map[String, Double] =
      RunnerKinds.map(k => s"runner.step_s.$k" -> Trace.counter(s"runner.step_s.$k")).toMap ++
        BuildKinds.map(k => s"loaders.build_s.$k" -> prefixSum(s"loaders.build.$k")) ++
        Formats.flatMap(f => FormatOps.map(o => s"$f.${o}_s" -> spanSum(s"$f.$o")) :+
          (s"$f.driver_s" -> driver(f))) ++
        Seq("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
          "catalyst.actions").map(n => n -> Trace.counter(n)) ++
        Exec.map { case (n, _) => s"exec.$n" -> Trace.counter(s"exec.$n") } ++
        Streaming.map(n => s"streaming.$n" -> Trace.counter(s"streaming.$n")) ++
        Map("exec.job_s" -> Trace.jobWallNs / 1e9, "exec.task_skew" -> Trace.taskSkew,
          "jvm.gc_s" -> gcS, "jvm.gc_count" -> gcN,
          "trace.op_s.p50" -> Main.median(all), "trace.child_share" -> covered) ++
        report.layer
    names.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }
}
