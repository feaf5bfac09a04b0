package graft.api

import java.nio.file.Files
import java.time.LocalDate

import graft.claims._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Claims pipeline at volume: the sf0.1 orders table (~1.5M rows)
  * mapped onto the claims schema and pushed through canonicalize →
  * preprocess → hub upsert → partition catalog → series mart → risk
  * scan. Verifies the domain engine's shapes hold beyond fixture size
  * (SURVEY.md §3.1 end-to-end, driver-scale inputs).
  */
class ClaimsScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("orders-derived claims flow end-to-end at sf0.1 volume") {
    val orders = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
    val claims = orders.select(
      col("o_orderkey").cast("string").as("상담번호"),
      year(col("o_orderdate")).cast("string").as("접수년"),
      month(col("o_orderdate")).cast("string").as("접수월"),
      dayofmonth(col("o_orderdate")).cast("string").as("접수일"),
      concat(lit("PLANT_"), (col("o_custkey") % 5).cast("string")).as("플랜트"),
      col("o_orderpriority").as("대분류"),
      col("o_orderstatus").as("중분류"),
      concat(lit("CAT_"), (col("o_orderkey") % 3).cast("string")).as("제품범주2"),
      when(col("o_totalprice") > 200000, "중대").otherwise("일반").as("등급기준"),
      date_format(date_sub(col("o_orderdate"), (col("o_orderkey") % 40).cast("int")),
        "yyyy-MM-dd").as("제조일자"))

    val t0 = System.nanoTime()
    val prepared = ClaimsEtl.preprocess(
      ClaimsEtl.canonicalize54(ClaimsEtl.withIngestSeq(claims)))

    val base = Files.createTempDirectory("scale").toString
    HubStore.write(prepared, s"$base/hub")
    val hub = HubStore.read(spark, s"$base/hub")
    val n = hub.count()
    assert(n == orders.count()) // unique keys, nothing dropped

    // partition catalog covers the full order date range
    val cat = HubStore.catalog(spark, s"$base/hub").collect()
    assert(cat.length > 70) // ~80 year-months in 1995..2001
    assert(cat.map(_.getAs[Long]("건수")).sum == n)

    // mart: one doc per (플랜트, 제품범주2, 대분류) = 5×3×5
    val mart = SeriesMart.build(hub, "2026-01-01")
    assert(mart.count() == 75)

    // risk scan over the full hub
    val risks = RiskScanJob.scan(hub,
      Seq("플랜트", "대분류", "등급기준"), ClaimsSchema.receiptDateCol,
      Some("등급기준"), LocalDate.of(2030, 1, 1))
    val scanned = risks.count()
    assert(scanned == 50) // 5 plants × 5 priorities × 2 grades
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"end-to-end claims pipeline on ${n} rows: $secs%.1f s")
    assert(secs < 300, s"pipeline too slow: $secs s")
  }

  private def walkListing(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
      .map(f => f.getPath.stripPrefix(dir) -> (f.lastModified(), f.length()))
      .toMap
  }

  test("fleet rehearsal at reference cardinality: 5k parents / 40k children") {
    // The shipped reference mart is 4,774 parents × ≤8 children over 49
    // months (docs/project_master.md scale); rehearse ABOVE it — 5,000
    // parents × 8 중분류 over a 49-month spine, 200k claims — and pin
    // the maintenance I/O bounds at that width: one same-spine upload
    // touches ONE mart bucket of 64 and ONE count month partition, and
    // the risk scan plans the same exchange count as at fixture size
    // (width changes data volume, never the shuffle shape). The flow
    // runs with explicit counts, 32 hub and 64 mart buckets: sized from
    // the data, this hub and mart would each be one bucket, and the
    // bucket-granular rewrite bounds below would hold trivially.
    val rows = 200000L
    val hub0 = spark.range(rows).select(
      concat(lit("K"), col("id")).as(ClaimsSchema.keyCol),
      concat(lit("P"), (col("id") % 5000 % 100).cast("string")).as("플랜트"),
      concat(lit("C"), (((col("id") % 5000) / 100).cast("int") % 10)
        .cast("string")).as("제품범주2"),
      concat(lit("M"), ((col("id") % 5000) / 1000).cast("int").cast("string"))
        .as("대분류"),
      concat(lit("S"), (col("id") % 8).cast("string")).as("중분류"),
      add_months(to_date(lit("2021-01-15")), ((col("id") * 31) % 49).cast("int"))
        .as(ClaimsSchema.receiptDateCol),
      (col("id") % 3 =!= 0).as(ClaimsSchema.lagValidCol),
      (col("id") % 30).cast("int").as(ClaimsSchema.lagDaysCol))
      .withColumn("접수년", year(col(ClaimsSchema.receiptDateCol)))
      .withColumn("접수월", month(col(ClaimsSchema.receiptDateCol)))

    val base = Files.createTempDirectory("fleet").toString
    val hubPath = s"$base/hub"
    val martDir = s"$base/mart"
    val countsDir = SeriesCounts.dirFor(martDir)
    def upload(batch: org.apache.spark.sql.DataFrame, asOf: String): Boolean =
      UploadFlow.run(spark, batch, hubPath, martDir, asOf, buckets = Some(64),
        hubLayout = HubStore.Bucketed(Some(32)))
    val t0 = System.nanoTime()
    assert(!upload(hub0, "2026-01-01"))
    val built = (System.nanoTime() - t0) / 1e9
    assert(spark.read.parquet(martDir).count() == 5000)
    // The count store is grain-bounded: ≤ #children × #months (+ some
    // child×month grains absent), orders under the 200k hub rows.
    val countRows = SeriesCounts.read(spark, countsDir).count()
    assert(countRows <= 40000L * 49 && countRows > 40000,
      s"count store must be grain-sized, got $countRows")

    // One same-spine claim for one series.
    val batch = spark.range(1).select(
      lit("K_new").as(ClaimsSchema.keyCol),
      lit("P7").as("플랜트"), lit("C0").as("제품범주2"),
      lit("M0").as("대분류"), lit("S1").as("중분류"),
      to_date(lit("2022-05-20")).as(ClaimsSchema.receiptDateCol),
      lit(true).as(ClaimsSchema.lagValidCol),
      lit(3).as(ClaimsSchema.lagDaysCol))
      .withColumn("접수년", lit(2022)).withColumn("접수월", lit(5))
    val beforeMart = walkListing(martDir)
    val beforeCounts = walkListing(countsDir)
    val beforeHub = walkListing(hubPath)
    Thread.sleep(1100) // mtime resolution guard
    val t1 = System.nanoTime()
    assert(upload(batch, "2026-02-01"),
      "a same-spine single-series upload takes the incremental path")
    val inc = (System.nanoTime() - t1) / 1e9
    info(f"full build: $built%.1f s; incremental upload: $inc%.1f s")

    // Round-12: the flow births the key-hash BUCKETED hub layout by
    // default — pin the upsert's write I/O at width: one new claim
    // rewrites exactly its (year, month, bucket) partition, nothing
    // else (the probe side is pinned by PlanAuditSpec).
    val changedHub = walkListing(hubPath).toSet.union(beforeHub.toSet)
      .diff(walkListing(hubPath).toSet.intersect(beforeHub.toSet)).map(_._1)
    assert(changedHub.nonEmpty &&
      changedHub.forall(_.matches(
        ".*접수년=2022/접수월=5/_key_bucket=\\d+/.*")),
      s"one upload must rewrite one hub month-bucket, got: $changedHub")
    assert(changedHub.flatMap(
      "_key_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).size == 1,
      "a single-key batch touches a single hub bucket")

    val afterMart = walkListing(martDir)
    val changedBuckets = afterMart.keySet.union(beforeMart.keySet)
      .filter(k => beforeMart.get(k) != afterMart.get(k))
      .flatMap("key_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1)))
    assert(changedBuckets.size == 1,
      s"one touched series must rewrite one mart bucket, got: $changedBuckets")
    val changedCountParts = walkListing(countsDir).toSet
      .union(beforeCounts.toSet)
      .diff(walkListing(countsDir).toSet.intersect(beforeCounts.toSet))
      .map(_._1).flatMap(
        "접수년=(\\d+)/접수월=(\\d+)".r.findFirstMatchIn(_)
          .map(m => (m.group(1), m.group(2))))
    assert(changedCountParts == Set(("2022", "5")),
      s"only the touched month's count partition may change, got: $changedCountParts")
    assert(spark.read.parquet(martDir).count() == 5000)

    // Spine-extending upload at width (the first upload of a new
    // month — the most common production event): previously an
    // O(hub + mart) rebuild, now assembled from #keys × #months count
    // rows with NO hub read (refreshFromCounts takes no hub
    // argument). Still reports the full-rebuild path (every history
    // gains a month, every doc re-stamps) and must stay in the same
    // cost class as the initial build, not above it.
    val extend = spark.range(1).select(
      lit("K_ext").as(ClaimsSchema.keyCol),
      lit("P3").as("플랜트"), lit("C1").as("제품범주2"),
      lit("M1").as("대분류"), lit("S2").as("중분류"),
      to_date(lit("2025-03-10")).as(ClaimsSchema.receiptDateCol),
      lit(true).as(ClaimsSchema.lagValidCol),
      lit(5).as(ClaimsSchema.lagDaysCol))
      .withColumn("접수년", lit(2025)).withColumn("접수월", lit(3))
    val t2 = System.nanoTime()
    assert(!upload(extend, "2026-03-01"),
      "a spine-extending upload reports the (counts-bounded) rebuild path")
    val ext = (System.nanoTime() - t2) / 1e9
    info(f"spine-extending upload at 5k/40k width: $ext%.1f s")
    // (P3, C1, M1) is an existing parent — the doc count holds.
    assert(spark.read.parquet(martDir).count() == 5000)
    assert(spark.read.parquet(martDir)
      .select(element_at(col("data.history"), -1).getField("date").as("d"))
      .collect().forall(_.getString(0) == "2025-03"),
      "every document's history extends through the new month")
    assert(ext < built * 3 + 30,
      s"counts-bounded rebuild must stay in the initial build's cost class: $ext s vs $built s")

    // Parent-key MOVE at width (round-11 verdict item 6 — the hardest
    // maintenance case): claim K123 (P23/C1/M0, 2024-05) re-filed
    // under (P7/C0/M0), same receipt date. Exactly TWO mart buckets
    // may rewrite — the vacated document's and the receiving one's —
    // the vacated history shrinks by one at that month, the receiver
    // grows by one, and the count store still replaces only the one
    // touched month partition.
    import spark.implicits._
    val oldKey = "P23_C1_M0"
    val newKey = "P7_C0_M0"
    def histCount(key: String, ym: String): Int =
      spark.read.parquet(martDir).filter(col("key") === key)
        .select(explode(col("data.history")).as("h"))
        .filter(col("h.date") === ym)
        .select(col("h.count")).collect()(0).getInt(0)
    val oldBefore = histCount(oldKey, "2024-05")
    val newBefore = histCount(newKey, "2024-05")
    assert(oldBefore > 0, "K123 must be counted in its original doc")
    val expectedMartBuckets = Seq(oldKey, newKey).toDF("key")
      .select(pmod(xxhash64(col("key")), lit(64)))
      .collect().map(_.getLong(0)).toSet
    assert(expectedMartBuckets.size == 2,
      "fixture sanity: the two docs must hash to distinct buckets")
    val move = spark.range(1).select(
      lit("K123").as(ClaimsSchema.keyCol),
      lit("P7").as("플랜트"), lit("C0").as("제품범주2"),
      lit("M0").as("대분류"), lit("S3").as("중분류"),
      to_date(lit("2024-05-15")).as(ClaimsSchema.receiptDateCol),
      lit(false).as(ClaimsSchema.lagValidCol),
      lit(3).cast("int").as(ClaimsSchema.lagDaysCol))
      .withColumn("접수년", lit(2024)).withColumn("접수월", lit(5))
    val beforeMart2 = walkListing(martDir)
    val beforeCounts2 = walkListing(countsDir)
    Thread.sleep(1100) // mtime resolution guard
    val t3 = System.nanoTime()
    assert(upload(move, "2026-04-01"),
      "a same-spine parent-key move takes the incremental path")
    info(f"parent-key move at 5k/40k width: ${(System.nanoTime() - t3) / 1e9}%.1f s")
    val afterMart2 = walkListing(martDir)
    val movedBuckets = afterMart2.keySet.union(beforeMart2.keySet)
      .filter(k => beforeMart2.get(k) != afterMart2.get(k))
      .flatMap("key_bucket=(\\d+)".r.findFirstMatchIn(_)
        .map(_.group(1).toLong))
    assert(movedBuckets == expectedMartBuckets,
      s"a move rewrites exactly the vacated + receiving buckets, " +
        s"got $movedBuckets vs $expectedMartBuckets")
    assert(histCount(oldKey, "2024-05") == oldBefore - 1,
      "the vacated document's history shrinks at the moved month")
    assert(histCount(newKey, "2024-05") == newBefore + 1,
      "the receiving document's history grows at the moved month")
    val movedCountParts = walkListing(countsDir).toSet
      .union(beforeCounts2.toSet)
      .diff(walkListing(countsDir).toSet.intersect(beforeCounts2.toSet))
      .map(_._1).flatMap(
        "접수년=(\\d+)/접수월=(\\d+)".r.findFirstMatchIn(_)
          .map(m => (m.group(1), m.group(2))))
    assert(movedCountParts == Set(("2024", "5")),
      s"a move replaces only the touched month's counts, got: $movedCountParts")
    assert(spark.read.parquet(martDir).count() == 5000)

    // Shuffle-shape width-independence: the risk scan over the 40k-wide
    // hub plans exactly as many exchanges as over the 6-row fixture.
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllMatchIn(
        df.queryExecution.executedPlan.toString).size
    val wide = RiskScanJob.scan(HubStore.read(spark, hubPath),
      Seq("플랜트", "대분류"), ClaimsSchema.receiptDateCol, None,
      LocalDate.of(2026, 1, 1))
    val tiny = RiskScanJob.scan(
      ClaimsEtl.ingestCsv(spark,
        getClass.getResource("/claims_fixture.csv").getPath),
      Seq("플랜트", "대분류"), ClaimsSchema.receiptDateCol, None,
      LocalDate.of(2026, 1, 1))
    assert(exchanges(wide) <= exchanges(tiny),
      "risk-scan shuffle shape must not grow with key width")
    assert(wide.count() > 0)
  }
}
