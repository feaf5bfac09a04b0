package graftbench

import java.io.File
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.ClaimAnalysisEngine
import graft.claims._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The generated claims inputs (see gen.py), read from manifest.json. */
final case class ClaimsInputs(history: String, historyAsOf: String, historyMonths: Int,
    monthClose: IndexedSeq[(String, String)], corrections: IndexedSeq[(String, String)],
    sales: String, lookupKeys: IndexedSeq[String], verbSeed: Long,
    distinctKeysAfterCycle: IndexedSeq[Long])

object ClaimsInputs {
  def load(dir: File): ClaimsInputs = {
    val j = new ObjectMapper().readTree(new File(dir, "manifest.json"))
    def batches(n: JsonNode) = n.elements().asScala
      .map(b => (b.get("path").asText(), b.get("as_of").asText())).toIndexedSeq
    ClaimsInputs(j.get("history").asText(), j.get("history_as_of").asText(),
      j.get("history_months").asInt(),
      batches(j.get("month_close")), batches(j.get("corrections")),
      j.get("sales").asText(),
      j.get("lookup_keys").elements().asScala.map(_.asText()).toIndexedSeq,
      j.get("verb_seed").asLong(),
      j.get("distinct_keys_after_cycle").elements().asScala.map(_.asLong()).toIndexedSeq)
  }
}

/** The hub, count store, mart and sales table of one claims run. */
final class ClaimsStores(val root: File) {
  val hub: String = new File(root, "hub").getPath
  val mart: String = new File(root, "mart").getPath
  val counts: String = SeriesCounts.dirFor(mart)
  val sales: String = new File(root, "sales").getPath

  def engine(h: Harness): ClaimAnalysisEngine =
    new ClaimAnalysisEngine(h.spark, hub, sales,
      new File(root, "models").getPath, new File(root, "series").getPath)

  def storeBytes: Long =
    Seq(hub, counts, mart).map(p => Util.du(new File(p))._2).sum
}

object Claims {
  /** Report verb -> (span layer, per-layer metric). */
  val ReportVerbs: Seq[(String, (String, String))] = Seq(
    "available_periods" -> ("claims.hub.catalog", "claims.hub.catalog_s"),
    "lag_stats" -> ("claims.dashboard.lag_stats", "claims.dashboard.lag_stats_s"),
    "lot_alerts" -> ("claims.dashboard.lot_alerts", "claims.dashboard.lot_alerts_s"),
    "ppm" -> ("claims.sales.ppm", "claims.sales.ppm_s"),
    "forecast" -> ("ml.forecast", "ml.forecast_s"),
    "pivot" -> ("claims.dashboard.pivot", "claims.dashboard.pivot_s"),
    "top_share" -> ("claims.dashboard.top_share", "claims.dashboard.top_share_s"))

  /** Series lookups per dashboard render: one after every second verb. */
  val Lookups = (ReportVerbs.size + 1) / 2

  private def upload(h: Harness, s: ClaimsStores, csv: String, asOf: String): Boolean = {
    val prepared = h.span("claims.etl")(ClaimsEtl.ingestCsv(h.spark, csv))
    h.span("claims.flow")(UploadFlow.run(h.spark, prepared, s.hub, s.mart, asOf))
  }

  private def alerts(h: Harness, s: ClaimsStores, asOf: String): Int =
    h.span("claims.risk")(s.engine(h).scanRisks(LocalDate.parse(asOf)).collect().length)

  private def dataFiles(dir: String): Set[String] =
    Util.dataFiles(new File(dir)).map(_.getPath).toSet

  /** One upload: the class-loading pass of the archive-building session. */
  def warmup(h: Harness, csv: File, work: File): Unit =
    upload(h, new ClaimsStores(new File(work, "claims")), csv.getPath, "2025-02-01")

  /** The upload -> alert -> dashboard loop. Each cycle closes a month
    * (spine-extending upload, counts-bounded mart rebuild), files a batch
    * of same-spine corrections (incremental mart refresh), each followed
    * by its alerts, then renders the dashboard: every report verb once,
    * with a series lookup after every second verb. The first cycle is the
    * counter prefix.
    */
  def workload(h: Harness, in: ClaimsInputs, work: File, seconds: Double, sheet: Sheet): Unit = {
    val spark = h.spark
    val s = new ClaimsStores(new File(work, "claims"))

    // ---- set-up: bulk-load the history and the sales table
    val t0 = HostClock.now()
    upload(h, s, in.history, in.historyAsOf)
    h.span("claims.sales") {
      spark.read.option("header", "true").csv(in.sales).write.mode("overwrite").parquet(s.sales)
    }
    sheet.setupS = HostClock.seconds(t0, HostClock.now())
    sheet.layer("stores.build_s", sheet.setupS, "s")
    Util.log(f"setup ${sheet.setupS}%.2f s")

    val engine = s.engine(h)
    var asOf = in.historyAsOf
    def hub = HubStore.read(spark, s.hub)
    def report(verb: String): DataFrame = verb match {
      case "available_periods" => engine.availablePeriods()
      case "lag_stats" => engine.lagStats()
      case "lot_alerts" => engine.lotAlerts()
      case "ppm" => engine.ppm()
      case "forecast" =>
        // The facade's monthly series with the training floor lowered to
        // the generated history's length (the facade keeps the 12-month
        // floor of the reference UI).
        graft.ml.FleetTrainer.trainAll(hub.groupBy(col("플랜트"),
            date_format(col(ClaimsSchema.receiptDateCol), "yyyy-MM").as("ym"))
          .agg(count(lit(1)).as("n")), Seq("플랜트"), minMonths = in.historyMonths)
      case "pivot" =>
        val hi = java.time.YearMonth.from(LocalDate.parse(asOf)).minusMonths(1)
        PivotWithSubtotals.build(
          hub.withColumn("ym", date_format(col(ClaimsSchema.receiptDateCol), "yyyy-MM")),
          Seq("플랜트", "대분류"), "ym", (11 to 0 by -1).map(k => hi.minusMonths(k.toLong).toString))
      case "top_share" => Dashboard.topShare(hub, "대분류", 3)
    }

    val hashes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val lookups = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    var filesWritten, bucketsRewritten, csvBytes = 0L
    val rng = new scala.util.Random(in.verbSeed)
    var k = 0
    val window = new Window(h, sheet)
    window.start()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var cycle = 0
    while ((cycle == 0 || System.nanoTime() < deadline) &&
        cycle < math.min(in.monthClose.size, in.corrections.size)) {
      val prefix = cycle == 0
      for ((kind, (csv, batchAsOf)) <- Seq("month_close" -> in.monthClose(cycle),
          "correction" -> in.corrections(cycle))) {
        if (kind == "month_close") asOf = batchAsOf
        val (hub0, mart0) = if (prefix) (dataFiles(s.hub), dataFiles(s.mart)) else (Set.empty[String], Set.empty[String])
        h.op(kind, new File(csv).getName) {
          upload(h, s, csv, asOf)
          alerts(h, s, asOf)
        }
        if (prefix) {
          filesWritten += (dataFiles(s.hub) -- hub0).size
          bucketsRewritten += (dataFiles(s.mart) -- mart0)
            .flatMap("key_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).size
          csvBytes += new File(csv).length()
        }
      }
      lookups.clear()
      for (((verb, (layer, _)), i) <- rng.shuffle(ReportVerbs).zipWithIndex) {
        h.op("report", verb) {
          hashes(verb) = Util.sha(Report.canonical(h.span(layer)(report(verb).collect())))
        }
        if (i % 2 == 0) {
          val key = in.lookupKeys(k % in.lookupKeys.size)
          k += 1
          h.op("lookup", key) {
            lookups += key -> h.span("claims.mart.lookup")(engine.loadSeries(s.mart, key).collect().length)
          }
        }
      }
      if (prefix) window.prefixEnd()
      cycle += 1
    }
    window.end()
    Util.log(s"timed window done: $cycle cycles")

    sheet.steps = Seq(h.step("month_close", "month_close", None, 1),
        h.step("correction", "correction", None, 1)) ++
      ReportVerbs.map { case (v, _) => h.step(v, "report", Some(v), 1) } :+
      h.step("lookup", "lookup", None, Lookups)

    // ---- per-layer figures of the prefix cycle
    val layers = window.prefixLayers
    val (from, to) = window.prefixRange
    def opSeconds(kind: String) =
      h.ops.slice(from, to).filter(o => o.ok && o.kind == kind).map(_.seconds).sum
    sheet.layer("claims.month_close_s", opSeconds("month_close"), "s")
    sheet.layer("claims.correction_s", opSeconds("correction"), "s")
    val written = Seq("claims.etl", "claims.hub", "claims.counts", "claims.mart", "claims.flow")
      .map(l => layers.get(l).map(_.outBytes).getOrElse(0L)).sum
    sheet.layer("claims.hub.files_written", filesWritten.toDouble, "count")
    sheet.layer("claims.mart.buckets_rewritten", bucketsRewritten.toDouble, "count")
    sheet.layer("claims.write_amp", if (csvBytes > 0) written.toDouble / csvBytes else 0.0, "ratio")
    for ((_, (layer, metric)) <- ReportVerbs)
      sheet.layer(metric, h.spanSeconds(layer, from, to).lastOption.getOrElse(0.0), "s")
    // scanRisks runs as the alerts step of every batch.
    sheet.layer("claims.risk.scan_s", Util.median(h.spanSeconds("claims.risk", from, to)), "s")
    val reportRows = ReportVerbs.map(_._2._1).flatMap(layers.get).map(_.inRows).sum
    sheet.layer("claims.hub.input_rows", reportRows.toDouble / ReportVerbs.size, "rows")
    sheet.layer("ml.cpu_s", layers.get("ml.forecast").map(_.cpuNs / 1e9).getOrElse(0.0), "s")
    val lk = layers.getOrElse("claims.mart.lookup", new Counters)
    val nLookups = Lookups
    sheet.layer("claims.mart.lookup_s", opSeconds("lookup") / nLookups, "s")
    sheet.layer("claims.mart.lookup_rows_read", lk.inRows.toDouble / nLookups, "rows")
    sheet.layer("claims.mart.lookup_tasks", lk.tasks.toDouble / nLookups, "count")
    sheet.layer("claims.mart.lookup_jobs", lk.jobs.toDouble / nLookups, "count")

    // ---- correctness, outside the timed window
    val finalHub = hub
    val hubRows = finalHub.count()
    val keys = in.distinctKeysAfterCycle(cycle - 1)
    sheet.check("hub rows == distinct uploaded claim keys", hubRows == keys,
      s"hub=$hubRows keys=$keys")
    def unstamped(df: DataFrame): Set[String] =
      df.toJSON.collect().map(_.replaceAll("\"last_updated\":\"[^\"]*\"", "")).toSet
    val maintained = unstamped(spark.read.parquet(s.mart).drop("key_bucket"))
    val rebuilt = unstamped(SeriesMart.build(finalHub, asOf))
    sheet.check("maintained mart == SeriesMart.build over the final hub",
      maintained == rebuilt,
      s"${maintained.size} docs, ${(maintained diff rebuilt).size + (rebuilt diff maintained).size} differ")
    val docKeys = spark.read.parquet(s.mart).select("key").collect().map(_.getString(0)).toSet
    val wrong = lookups.count { case (key, n) => n != (if (docKeys(key)) 1 else 0) }
    sheet.check("series lookups return exactly the mart's documents", wrong == 0,
      s"${lookups.size} lookups of the last cycle, $wrong wrong")
    if (cycle == 1) sheet.reportHashes = hashes.toMap

    val (files, bytes) = Util.du(new File(s.hub))
    sheet.layer("claims.hub.files", files.toDouble, "count")
    sheet.layer("claims.hub.bytes", bytes.toDouble, "bytes")
    sheet.storeBytesPerRow = s.storeBytes.toDouble / math.max(1L, hubRows)
    Util.log("checks done")
  }
}

object Report {
  /** Order-independent text of a report: rows sorted, doubles rounded to
    * 9 significant digits so summation order cannot change a hash.
    */
  def canonical(rows: Array[org.apache.spark.sql.Row]): String = {
    def cell(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else java.math.BigDecimal.valueOf(d).round(new java.math.MathContext(9)).toString
      case f: Float => cell(f.toDouble)
      case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map(kv => cell(kv._1) + ":" + cell(kv._2)).sorted.mkString("{", ",", "}")
      case other => other.toString
    }
    rows.map(cell).sorted.mkString("\n")
  }
}
