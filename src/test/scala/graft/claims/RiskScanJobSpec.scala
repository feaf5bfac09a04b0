package graft.claims

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RiskScanJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .getOrCreate()

  test("scan survives null dates by dropping those rows (F1 parse-failure convention)") {
    import spark.implicits._
    val rows = Seq(
      ("k1", "2024-01-05"), ("k1", "2024-02-10"), ("k1", "2024-03-01"),
      ("k1", null), // unparseable receipt date -> null from the F1 parse
      ("k2", "2024-02-20"), ("k2", null)
    ).toDF("key", "d").select($"key", $"d".cast("date").as("d"))
    // regression: the month->count map build threw NULL_MAP_KEY on the
    // null group before the isNotNull guard
    val out = RiskScanJob.scan(rows, Seq("key"), "d", None,
      LocalDate.of(2024, 3, 15)).collect()
    assert(out.length == 2)
    val k1 = out.find(_.getAs[String]("key") == "k1").get
    // null row dropped: k1's series covers 2024-01..03 with counts 1,1,1
    assert(k1.getAs[String]("trend").endsWith("1 → 1 → 1"))
  }
}
