package graft.claims

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[SeriesMart.build]] against an independent model of the reference's
  * `generate_nested_series` (FIXTURES.md §4), written as plain Scala over
  * collected rows: no Spark expression and none of the mart's own
  * assembly. [[SeriesMart.build]] and [[SeriesMart.buildFromCounts]]
  * share one assembly, so their mutual bit-identity (SeriesCountsSpec)
  * cannot catch a fault in it; this spec can.
  */
class SeriesMartOracleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val mapper = new ObjectMapper()

  /** One claim as the model sees it. */
  private final case class Claim(plant: Option[String], cat2: Option[String],
      major: Option[String], middle: Option[String], ym: Option[String],
      valid: Boolean, lag: Option[Int])

  private def claims(df: DataFrame): Seq[Claim] = df
    .select(col("플랜트").cast("string"), col("제품범주2").cast("string"),
      col("대분류").cast("string"), col("중분류").cast("string"),
      date_format(col("접수일자"), "yyyy-MM"),
      coalesce(col("Lag_Valid"), lit(false)), col("Lag_Days").cast("int"))
    .collect().toSeq.map(r => Claim(
      Option(r.getString(0)), Option(r.getString(1)), Option(r.getString(2)),
      Option(r.getString(3)), Option(r.getString(4)), r.getBoolean(5),
      if (r.isNullAt(6)) None else Some(r.getInt(6))))

  // ---- the model ----

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** np.nanstd(xs, ddof=1), two-pass; 0.0 below two points. */
  private def std(xs: Seq[Double]): Double =
    if (xs.size < 2) 0.0
    else {
      val m = mean(xs)
      math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
    }

  /** Least-squares slope through the last three points (x = 0, 1, 2);
    * 0.0 below three points.
    */
  private def slope(xs: Seq[Double]): Double =
    if (xs.size < 3) 0.0
    else {
      val ys = xs.takeRight(3)
      val xm = 1.0
      val ym = ys.sum / 3
      ys.indices.map(i => (i - xm) * (ys(i) - ym)).sum /
        ys.indices.map(i => (i - xm) * (i - xm)).sum
    }

  /** Mean lag of the Lag_Valid rows, rounded to 1 dp like Python's
    * round() (half-even on the exact binary value); 0.0 when none.
    */
  private def avgLag(rows: Seq[Claim]): Double = {
    val lags = rows.filter(_.valid).flatMap(_.lag)
    if (lags.isEmpty) 0.0
    else new java.math.BigDecimal(lags.sum.toDouble / lags.size)
      .setScale(1, java.math.RoundingMode.HALF_EVEN).doubleValue
  }

  private def statsNode(rows: Seq[Claim], spine: Seq[String]): ObjectNode = {
    val valid = spine.map(m => rows.count(c => c.valid && c.ym.contains(m)).toDouble)
    val n = mapper.createObjectNode()
    n.put("mean", mean(valid)).put("std", std(valid)).put("slope", slope(valid))
      .put("avg_lag_days", avgLag(rows))
    n
  }

  private def historyNode(rows: Seq[Claim], spine: Seq[String]): ArrayNode = {
    val a = mapper.createArrayNode()
    spine.foreach(m => a.addObject().put("date", m)
      .put("count", rows.count(_.ym.contains(m))))
    a
  }

  /** Documents keyed by mart key (several parent tuples can share one). */
  private def model(rows: Seq[Claim], asOf: String): Map[String, Seq[JsonNode]] = {
    val dated = rows.flatMap(_.ym)
    if (dated.isEmpty) return Map.empty
    val lo = java.time.YearMonth.parse(dated.min)
    val hi = java.time.YearMonth.parse(dated.max)
    val spine = Iterator.iterate(lo)(_.plusMonths(1)).takeWhile(!_.isAfter(hi))
      .map(_.toString).toSeq
    def key(c: Claim) = Seq(c.plant, c.cat2, c.major)
    rows.groupBy(key).toSeq.map { case (parent, prows) =>
      val doc = mapper.createObjectNode()
      val k = parent.map(_.getOrElse("None")).mkString("_")
      doc.put("key", k)
      doc.put("filename_key", parent
        .map(_.getOrElse("").replaceAll("[\\\\/:*?\"<>|]", "-")).mkString("_"))
      val meta = doc.putObject("meta")
      meta.put("last_updated", asOf).put("warning_level", 0)
      meta.set[JsonNode]("parent_stats", statsNode(prows, spine))
      val data = doc.putObject("data")
      data.set[JsonNode]("history", historyNode(prows, spine))
      data.putArray("forecast")
      val children = doc.putArray("children")
      prows.groupBy(_.middle).toSeq
        .map { case (middle, crows) =>
          val ch = mapper.createObjectNode()
          ch.put("sub_key", middle.getOrElse(""))
          ch.set[JsonNode]("stats", statsNode(crows, spine))
          ch.set[JsonNode]("history", historyNode(crows, spine))
          ch
        }
        .sortBy(c => (c.get("sub_key").asText, c.get("history").toString))
        .foreach(children.add)
      k -> doc
    }.groupMap(_._1)(_._2)
  }

  // ---- comparison ----

  /** Equal JSON trees, doubles to 1e-9 (the model's two-pass std and
    * least-squares slope are not the mart's formulas), a null field the
    * same as an absent one. Children with one sub_key are compared
    * after the model's (sub_key, history) order.
    */
  private def same(a: JsonNode, b: JsonNode): Boolean = (a, b) match {
    case (x: ObjectNode, y: ObjectNode) =>
      val names = (x.fieldNames.asScala ++ y.fieldNames.asScala).toSet
      names.forall { n =>
        val (u, v) = (x.get(n), y.get(n))
        def absent(j: JsonNode) = j == null || j.isNull
        if (absent(u) || absent(v)) absent(u) && absent(v)
        else if (n == "children") sameChildren(u, v)
        else same(u, v)
      }
    case (x: ArrayNode, y: ArrayNode) =>
      x.size == y.size && (0 until x.size).forall(i => same(x.get(i), y.get(i)))
    case (x, y) if x.isNumber && y.isNumber =>
      if (x.isIntegralNumber && y.isIntegralNumber) x.asLong == y.asLong
      else math.abs(x.asDouble - y.asDouble) <= 1e-9 * math.max(1.0, math.abs(x.asDouble))
    case (x, y) => x == y
  }

  private def sameChildren(a: JsonNode, b: JsonNode): Boolean = {
    def sorted(j: JsonNode) = j.elements.asScala.toSeq
      .sortBy(c => (c.get("sub_key").asText, c.get("history").toString))
    val subKeys = a.elements.asScala.map(_.get("sub_key").asText).toSeq
    subKeys == subKeys.sorted && a.size == b.size &&
      sorted(a).zip(sorted(b)).forall { case (x, y) => same(x, y) }
  }

  private def assertMatchesModel(df: DataFrame, asOf: String): Unit = {
    val got = SeriesMart.build(df, asOf).toJSON.collect().toSeq
      .map(mapper.readTree).groupBy(_.get("key").asText)
    val want = model(claims(df), asOf)
    assert(got.keySet == want.keySet, s"document keys: ${got.keySet} vs ${want.keySet}")
    want.foreach { case (k, docs) =>
      val mine = got(k)
      assert(mine.size == docs.size, s"$k: ${mine.size} documents, model ${docs.size}")
      assert(docs.forall(d => mine.exists(same(_, d))),
        s"$k differs from the model\nmart:  ${mine.mkString("\n       ")}\n" +
          s"model: ${docs.mkString("\n       ")}")
    }
  }

  test("build matches the reference model on the claims fixture") {
    val fixture = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    assertMatchesModel(fixture, "2024-02-01")
  }

  test("build matches the reference model on hostile keys and lags") {
    import spark.implicits._
    // SeriesCountsSpec's hostile frame: null parent and child
    // components, "_" separator collisions, an all-undated key, invalid
    // lags.
    val hostile = Seq(
      (null, "C_1", "M", "S1", "2023-10-05", true, 4),
      (null, "C_1", "M", null, "2023-11-05", false, -2),
      ("P_A", "C", "1_M", "S2", "2023-10-20", true, 7),
      ("P_A", "C", "1_M", "S2", null, false, 0),
      ("UND", "X", "Y", "S3", null, true, 11))
      .toDF("플랜트", "제품범주2", "대분류", "중분류", "접수일자",
        "Lag_Valid", "Lag_Days")
      .withColumn("접수일자", to_date(col("접수일자")))
    assertMatchesModel(hostile, "2024-01-01")
  }
}
