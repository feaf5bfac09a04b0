package graft.claims

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DashboardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .getOrCreate()

  test("month-end blend: day-rate extrapolation dominates without YoY") {
    val r = Dashboard.predictMonthEnd(
      thisYear = Map(5 -> 10.0), lastYear = Map.empty, beforeLast = Map.empty,
      currentMonth = 5, daysPassed = 10, daysInMonth = 30)
    // weights [0.7,0.2,0.1]; baseline = 10/10*30 = 30 → 0.7*30 = 21
    assert(math.abs(r.predictedVal - 21.0) < 1e-9)
    assert(r.confidence == "낮음")
  }

  test("month-end blend: two valid YoY years → 0.4/0.4/0.2 weights") {
    val r = Dashboard.predictMonthEnd(
      thisYear = Map(5 -> 10.0), lastYear = Map(5 -> 20.0),
      beforeLast = Map(5 -> 30.0),
      currentMonth = 5, daysPassed = 15, daysInMonth = 30)
    // baseline = 20; yoy_last = 20 (single-month lastYear → no slope);
    // 2y = 30 (no recent slope) → 0.4*20 + 0.4*20 + 0.2*30 = 22
    assert(math.abs(r.predictedVal - 22.0) < 1e-9)
    assert(r.yoyBaseline == 20.0)
  }

  test("month-end blend: zero days passed → undetermined") {
    val r = Dashboard.predictMonthEnd(Map.empty, Map.empty, Map.empty, 5, 0, 30)
    assert(r.method == "미결정" && r.predictedVal == 0.0)
  }

  test("iqr outliers flag extreme values per group") {
    import spark.implicits._
    val df = ((10 to 19).map(_.toDouble) ++ Seq(100.0))
      .zipWithIndex.map { case (v, i) => ("g", v, i) }
      .toDF("g", "v", "i")
    val out = Dashboard.iqrOutliers(df, "v", Seq("g"))
    val flagged = out.filter(col("is_outlier")).select("v").collect().map(_.getDouble(0))
    assert(flagged.toSeq == Seq(100.0))
  }

  test("lot detection finds repeated manufacture-date groups in window") {
    val hub = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    // C005 (keep-last) + C006 share (PLANT_B, PROD_3, P003, SUB_3) but
    // differ in 제조일자 → no LOT at min 2; same-date requires dupes
    val lots = Dashboard.lotDetection(hub, minCount = 1)
    assert(lots.count() >= 1)
    val strict = Dashboard.lotDetection(hub, minCount = 3)
    assert(strict.count() == 0)
    // pandas-dropna parity (round-9 review): rows whose 제조일자 failed
    // to parse share nothing — they must NOT form a pseudo-LOT group
    // (the fixture's C006 has a garbage date; at minCount = 1 a null
    // group would otherwise appear).
    assert(lots.filter(col("제조일자").isNull).count() == 0,
      "null manufacture dates must not group into LOT alerts")
  }

  test("pivot with subtotals emits 소계/전체 합계/Total levels (n=3)") {
    import spark.implicits._
    val df = Seq(
      ("A", "x", "k1", 1), ("A", "x", "k2", 1), ("A", "y", "k1", 2),
      ("B", "x", "k1", 1))
      .toDF("l1", "l2", "l3", "mo")
    val out = PivotWithSubtotals.build(df, Seq("l1", "l2", "l3"), "mo",
      Seq("1", "2"))
    val rows = out.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getAs[Long]("Total")))
    assert(rows.contains(("A", "x", "소계", 2L)))   // level-2 subtotal
    assert(rows.contains(("A", "전체 합계", "", 3L))) // level-1 total
    assert(rows.contains(("Total", "", "", 4L)))     // grand total
    assert(rows.contains(("A", "x", "k1", 1L)))      // data row survives
  }

  test("hybrid view: old years render sum(avg), recent 24 verbatim") {
    import spark.implicits._
    // 30 months for one key: 2021-07..2023-12; endYm 2023-12 →
    // recent window 2022-01..2023-12, old = 2021-07..2021-12
    val months = (0 until 30).map(i =>
      java.time.YearMonth.of(2021, 7).plusMonths(i.toLong).toString)
    val monthly = months.zipWithIndex
      .map { case (ym, i) => ("K", ym, (i % 3 + 1).toLong) }
      .toDF("k", "ym", "n")
    val out = Dashboard.hybridView(monthly, Seq("k"), "2023-12")
    val row = out.collect()(0)
    assert(out.columns.contains("2021") && out.columns.contains("2022-01"))
    assert(out.columns.count(_.matches("\\d{4}-\\d{2}")) == 24)
    // old 2021: months 7..12 have n = 1,2,3,1,2,3 → sum 12, avg 2.0
    assert(row.getAs[String]("2021") == "12(2.0)")
  }

  test("top share computes percentage of total") {
    import spark.implicits._
    val df = Seq("a", "a", "a", "b", "c").toDF("cat")
    val out = Dashboard.topShare(df, "cat", 2).collect()
    assert(out(0).getString(0) == "a" && out(0).getAs[Double]("점유율") == 60.0)
    assert(out.length == 2)
  }
}
