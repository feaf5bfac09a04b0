package graftbench

/** The per-layer metric sheet: every name is printed for every workload
  * (0 where the workload does not exercise the layer), in this order.
  */
object Metrics {
  /** SparkEntry modules, by the short name used in metric names; the
    * sheet carries the ones the surface workload runs.
    */
  val OperatorModules: Seq[(String, graft.QueryModule)] = {
    import graft.operators._
    Seq("Relational" -> RelationalQueries, "Window" -> WindowQueries,
      "Event" -> EventQueries, "Sketch" -> SketchQueries,
      "Analytics" -> AnalyticsQueries, "Text" -> TextQueries,
      "Curation" -> CurationQueries, "Vector" -> VectorQueries,
      "Ml" -> MlQueries, "Linkage" -> LinkageQueries, "Bpe" -> BpeQueries,
      "Graph" -> GraphQueries, "Topic" -> TopicQueries,
      "UnigramTok" -> UnigramTokQueries, "Hybrid" -> HybridQueries)
  }

  private val writeLayers = Seq("etl", "hub", "counts", "mart")

  private def surfaceModules: Seq[String] =
    OperatorModules.map(_._1).filter(m => Surface.Entries.exists(Surface.moduleOf(_) == m))

  val names: Seq[(String, String)] =
    Seq("claims.month_close_s" -> "s", "claims.correction_s" -> "s",
      "claims.flow.busy_s" -> "s") ++
      writeLayers.flatMap(l => Seq(s"claims.$l.busy_s" -> "s", s"claims.$l.jobs" -> "count",
        s"claims.$l.tasks" -> "count", s"claims.$l.bytes_written" -> "bytes")) ++
      Seq("claims.hub.files_written" -> "count", "claims.mart.buckets_rewritten" -> "count",
        "claims.write_amp" -> "ratio", "claims.hub.files" -> "count",
        "claims.hub.bytes" -> "bytes",
        "claims.risk.busy_s" -> "s", "claims.risk.tasks" -> "count",
        "claims.risk.input_rows" -> "rows", "claims.risk.shuffle_records" -> "count") ++
      Claims.ReportVerbs.map(_._2._2 -> "s") ++ Seq("claims.risk.scan_s" -> "s") ++
      Seq("claims.hub.input_rows" -> "rows", "ml.cpu_s" -> "s",
        "claims.mart.lookup_s" -> "s", "claims.mart.lookup_rows_read" -> "rows", "claims.mart.lookup_tasks" -> "count",
        "claims.mart.lookup_jobs" -> "count") ++
      surfaceModules.flatMap { m => Seq(s"operators.$m.busy_s" -> "s",
        s"operators.$m.jobs" -> "count", s"operators.$m.tasks" -> "count",
        s"operators.$m.shuffle_bytes" -> "bytes") } ++
      Seq("stores.build_s" -> "s", "stores.cold_in_timed" -> "count",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.slot_util" -> "ratio", "spark.cpu_ratio" -> "ratio", "spark.gc_s" -> "s",
        "spark.shuffle_bytes" -> "bytes", "spark.shuffle_records" -> "count",
        "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_mb" -> "MB",
        "host.steal_share" -> "ratio")

  /** Derive the counter-based metrics from the prefix window. */
  def fill(sheet: Sheet, h: Harness, w: Window, cores: Int): Unit = {
    val layers = w.prefixLayers
    val (from, to) = w.prefixRange
    def c(l: String) = layers.getOrElse(l, new Counters)
    def spanSum(l: String) = h.spanSeconds(l, from, to).sum
    sheet.layer("claims.flow.busy_s", spanSum("claims.flow"), "s")
    for (l <- writeLayers) {
      val x = c(s"claims.$l")
      sheet.layer(s"claims.$l.busy_s", x.busyNs / 1e9, "s")
      sheet.layer(s"claims.$l.jobs", x.jobs.toDouble, "count")
      sheet.layer(s"claims.$l.tasks", x.tasks.toDouble, "count")
      sheet.layer(s"claims.$l.bytes_written", x.outBytes.toDouble, "bytes")
    }
    val risk = c("claims.risk")
    sheet.layer("claims.risk.busy_s", spanSum("claims.risk"), "s")
    sheet.layer("claims.risk.tasks", risk.tasks.toDouble, "count")
    sheet.layer("claims.risk.input_rows", risk.inRows.toDouble, "rows")
    sheet.layer("claims.risk.shuffle_records", risk.shuffleRecords.toDouble, "count")
    for (m <- surfaceModules) {
      val x = c(s"operators.$m")
      sheet.layer(s"operators.$m.busy_s", spanSum(s"operators.$m"), "s")
      sheet.layer(s"operators.$m.jobs", x.jobs.toDouble, "count")
      sheet.layer(s"operators.$m.tasks", x.tasks.toDouble, "count")
      sheet.layer(s"operators.$m.shuffle_bytes", x.shuffleBytes.toDouble, "bytes")
    }
    val all = Probe.sum(layers.values)
    val wall = math.max(w.prefixSeconds, 1e-9)
    sheet.layer("spark.jobs", all.jobs.toDouble, "count")
    sheet.layer("spark.stages", all.stages.toDouble, "count")
    sheet.layer("spark.tasks", all.tasks.toDouble, "count")
    sheet.layer("spark.slot_util", all.runMs / 1e3 / (wall * cores), "ratio")
    sheet.layer("spark.cpu_ratio",
      if (all.runMs > 0) all.cpuNs / 1e9 / (all.runMs / 1e3) else 0.0, "ratio")
    sheet.layer("spark.gc_s", all.gcMs / 1e3, "s")
    sheet.layer("spark.shuffle_bytes", all.shuffleBytes.toDouble, "bytes")
    sheet.layer("spark.shuffle_records", all.shuffleRecords.toDouble, "count")
    sheet.layer("spark.spill_bytes", all.spillBytes.toDouble, "bytes")
    sheet.layer("spark.peak_exec_mem_mb", all.peakExecMem / 1048576.0, "MB")
  }

  /** Every per-layer metric in sheet order; a name outside the sheet is
    * a harness bug, not a metric.
    */
  def ordered(sheet: Sheet): Seq[(String, Double, String)] = {
    val unknown = sheet.layers.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics outside the sheet: ${unknown.mkString(", ")}")
    names.map { case (n, u) => (n, sheet.layers.get(n).map(_._1).getOrElse(0.0), u) }
  }
}
