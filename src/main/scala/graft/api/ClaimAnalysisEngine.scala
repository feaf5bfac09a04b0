package graft.api

import java.time.LocalDate

import graft.claims._
import graft.ml._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Facade mirroring the reference's entry points (SURVEY.md §7.1) so a
  * user of `graviton94/claim-analysis-engine` finds the same verbs:
  *
  * | reference                              | here                    |
  * |----------------------------------------|-------------------------|
  * | etl.process_claim_data                 | processClaimData        |
  * | storage.save_partitioned_parquet       | upsertHub               |
  * | storage.load_partitioned_data          | loadHub                 |
  * | storage.get_available_periods          | availablePeriods        |
  * | storage.generate_nested_series         | generateNestedSeries    |
  * | storage.load_sales_with_estimation     | loadSalesWithEstimation |
  * | app.load_and_scan_risks                | scanRisks               |
  * | analytics.calculate_lag_stats          | lagStats                |
  * | trainer.HyperParameterTuner.tune_all   | tuneAll                 |
  * | trainer.ChampionSelector               | trainChampion/forecast  |
  * | trainer.predict_with_seasonal_allocation | seasonalAllocation    |
  *
  * `asOf` injects the reference's wall-clock dependence everywhere
  * (SURVEY.md §7.5 item 4).
  */
final class ClaimAnalysisEngine(spark: SparkSession, hubPath: String,
    salesPath: String, modelsPath: String, seriesPath: String) {

  // ---- ETL / storage ----
  def processClaimData(csvPath: String): DataFrame =
    ClaimsEtl.ingestCsv(spark, csvPath)

  def upsertHub(prepared: DataFrame): Unit =
    HubStore.upsert(spark, prepared, hubPath)

  def loadHub(year: Option[Int] = None, month: Option[Int] = None): DataFrame =
    HubStore.read(spark, hubPath, year, month)

  /** One-time layout upgrade for a hub born flat (pre-round-12
    * deployments): convert in place to the key-hash bucketed layout so
    * every later upload's key probe bucket-prunes instead of scanning
    * the hub's key column ([[HubStore.migrateToBucketed]] — staged,
    * lease-guarded, idempotent; rows and downstream artifacts
    * unchanged). Hubs the upload flow births are bucketed already.
    * `buckets = None` sizes the count from the largest month on disk.
    */
  def migrateHubToBucketed(buckets: Option[Int] = None): Unit =
    HubStore.migrateToBucketed(spark, hubPath, buckets)

  def availablePeriods(): DataFrame = HubStore.catalog(spark, hubPath)

  /** The upload page's whole save flow as one verb (ref:
    * pages/1_데이터_업로드.py:107-117 — preprocess → hub save → series
    * regeneration), with the series step INCREMENTAL: only the parent
    * documents the batch touches are rebuilt in the bucketed mart at
    * `martDir`, including documents the batch's claims are moving AWAY
    * from (their pre-upsert mart keys, collected by the upsert's own
    * probe before the hub changes, or the old locations are
    * unknowable — journaled durably so a crashed upload's retry still
    * regenerates the vacated documents; see [[graft.claims.UploadFlow]]).
    * Returns true when the incremental path ran, false when a guard
    * (first build, spine growth, layout drift) forced the full rebuild
    * — the reference's only behavior ([[generateNestedSeries]] remains
    * the full-rebuild JSON export for layout parity). `buckets = None`
    * sizes the mart's key buckets from the data ([[UploadFlow.run]]).
    */
  def uploadBatch(prepared: DataFrame, asOf: LocalDate, martDir: String,
      buckets: Option[Int] = None): Boolean =
    UploadFlow.run(spark, prepared, hubPath, martDir, asOf.toString, buckets)

  /** Maintenance verb: rebuild the mart's child-grain count store from
    * the hub wholesale ([[SeriesCounts.rebuild]] — one narrow hub
    * scan). Needed only after writing the hub AROUND the upload flow
    * (direct `upsertHub`/`HubStore.write` calls leave the counts
    * stale); the flow itself maintains the store incrementally.
    */
  def rebuildSeriesCounts(martDir: String): Unit =
    SeriesCounts.rebuild(spark, loadHub(), SeriesCounts.dirFor(martDir))

  /** The UI's per-series read (the reference opens one JSON document
    * per key): an O(one bucket) point lookup on the bucketed mart.
    */
  def loadSeries(martDir: String, key: String): DataFrame =
    SeriesMart.readDocument(spark, martDir, key)

  def generateNestedSeries(asOf: LocalDate): Long = {
    // One build: unpinned, the write and the count each re-executed
    // the whole mart DAG (the hub scan, the row aggregation and both
    // assembly aggregations).
    val mart = graft.Checkpoint.pin(SeriesMart.build(loadHub(), asOf.toString))
    SeriesMart.writeJsonDataset(mart, seriesPath)
    mart.count()
  }

  // ---- sales ----
  def loadSalesWithEstimation(): DataFrame =
    SalesStore.withEstimation(spark.read.parquet(salesPath))

  def syncSalesWithClaims(): DataFrame =
    SalesStore.syncWithClaims(SalesStore.claimKeys(loadHub()),
      loadSalesWithEstimation())

  def ppm(): DataFrame = SalesStore.ppm(loadHub(), loadSalesWithEstimation())

  // ---- risk analytics ----
  def scanRisks(asOf: LocalDate): DataFrame =
    RiskScanJob.scan(loadHub(),
      keyCols = Seq("플랜트", "대분류", "소분류", "등급기준"),
      dateCol = ClaimsSchema.receiptDateCol,
      gradeCol = Some("등급기준"),
      asOf = asOf)
      .filter(col("score") > 0)

  def lagStats(groupCols: Seq[String] = Seq("플랜트")): DataFrame =
    Dashboard.lagStats(loadHub(), groupCols)

  def lotAlerts(): DataFrame = Dashboard.lotDetection(loadHub())

  // ---- forecasting ----
  def tuneAll(y: Array[Double], exog: Option[Array[Double]] = None)
      : Map[String, Tuner#Trial] = new Tuner().tuneAll(y, exog)

  def trainChampion(plant: String, major: String)
      : Option[DataFrame] = {
    import spark.implicits._
    val monthly = loadHub()
      .filter(col("플랜트") === plant && col("대분류") === major)
      .groupBy(date_format(col(ClaimsSchema.receiptDateCol), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("n"))
      .orderBy("ym")
    val y = monthly.select("n").collect().map(_.getLong(0).toDouble)
    if (y.length < 12) None // ref: pages/4:72-73 floor
    else {
      val tuner = new Tuner()
      val tuned = tuner.tuneAll(y).map { case (k, t) => k -> t.params }
      val sel = new ChampionSelector()
      sel.trainModels(y, None, tuned)
      sel.champion.foreach(m =>
        ModelStore.saveChampion(modelsPath, plant, major, m, sel.championRmse))
      Some(sel.leaderboard.map(e => (e.model, e.rmse)).toDF("Model", "RMSE"))
    }
  }

  def forecastAllPlants(keyCols: Seq[String], steps: Int = 3): DataFrame = {
    val monthly = loadHub()
      .groupBy((keyCols.map(col) :+
        date_format(col(ClaimsSchema.receiptDateCol), "yyyy-MM").as("ym")): _*)
      .agg(count(lit(1)).as("n"))
    FleetTrainer.trainAll(monthly, keyCols, steps)
  }

  def seasonalAllocation(plant: String, major: String,
      futureMonths: Seq[Int]): DataFrame = {
    val history = loadHub()
      .filter(col("플랜트") === plant && col("대분류") === major)
      .groupBy(col("접수년"), col("접수월"), col("소분류"))
      .agg(count(lit(1)).as("건수"))
    val champion = ModelStore.loadChampion(modelsPath, plant, major)
    val totals = champion match {
      case Some(m) =>
        // champions trained with exog throw here without future exog —
        // fall back to the 3-month mean (ref: trainer.py:85-91)
        try m.predict(futureMonths.length, None)
        catch {
          case _: Exception =>
            // the fallback aggregate over an EMPTY history returns one
            // row holding null — read defensively (a saved champion
            // can outlive its hub rows) instead of NPE-ing on
            // getDouble
            val row = history.groupBy(col("접수년"), col("접수월"))
              .agg(sum(col("건수")).as("n"))
              .orderBy(col("접수년").desc, col("접수월").desc)
              .limit(3).agg(avg(col("n"))).collect()(0)
            val recent = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
            Array.fill(futureMonths.length)(recent)
        }
      case None => return spark.emptyDataFrame
    }
    SeasonalAllocation.allocate(spark, plant, major, history,
      futureMonths.zip(totals.toSeq))
  }
}
