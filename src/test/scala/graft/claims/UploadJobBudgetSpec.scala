package graft.claims

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The Spark job budget of one [[UploadFlow.run]]. At claims scale an
  * upload's cost follows Spark round-trips (each job pays planning and
  * scheduling before its first task), not rows, and a job count does
  * not depend on machine load — so the counts are pinned as upper
  * bounds on a fixed small hub: a spine-extending month close (every
  * document reassembled from counts) and a same-spine correction with
  * one parent-key move (incremental refresh of two documents).
  */
class UploadJobBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** Jobs `body` starts. The listener bus delivers one listener's events
    * in post order, so marker jobs run before and after `body` bound
    * exactly its jobs (the GraftSessionSpec technique).
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "graft.spec.marker"
    val jobs = new AtomicInteger(0)
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var open = false
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(marker))) match {
          case Some("start") => open = true
          case Some("end") => open = false; done.countDown()
          case _ => if (open) jobs.incrementAndGet()
        }
    }
    def markerJob(tag: String): Unit = {
      sc.setLocalProperty(marker, tag)
      try spark.range(1).collect() finally sc.setLocalProperty(marker, null)
    }
    sc.addSparkListener(listener)
    try {
      markerJob("start")
      body
      markerJob("end")
      assert(done.await(60, TimeUnit.SECONDS), "the end marker job was never seen")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  private def mkBatch(rows: Seq[(String, String, String, String, String,
      String, String)]): DataFrame = {
    import spark.implicits._
    ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      ClaimsEtl.withIngestSeq(rows
        .toDF("상담번호", "접수년", "접수월", "접수일", "플랜트",
          "제품범주2", "대분류"))))
  }

  test("one upload stays within its Spark job budget") {
    val base = java.nio.file.Files.createTempDirectory("jobbudget").toString
    val hubPath = s"$base/hub"
    val martDir = s"$base/mart"
    val fixture = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    assert(!UploadFlow.run(spark, fixture, hubPath, martDir, "2024-02-01"))

    // 2024-03 extends the fixture's 2023-10..2024-01 spine.
    val close = mkBatch(Seq(
      ("C910", "2024", "3", "4", "PLANT_A", "CAT2_X", "MAJOR_P"),
      ("C911", "2024", "3", "9", "PLANT_B", "CAT2_Y", "MAJOR_S")))
    var incremental = true
    val closeJobs = jobsOf {
      incremental = UploadFlow.run(spark, close, hubPath, martDir, "2024-04-01")
    }
    assert(!incremental, "a spine-extending batch takes the full rebuild")

    // C003 moves from PLANT_A to PLANT_B inside the spine.
    val correction = mkBatch(Seq(
      ("C003", "2023", "12", "15", "PLANT_B", "CAT2_Y", "MAJOR_S")))
    val correctionJobs = jobsOf {
      incremental = UploadFlow.run(spark, correction, hubPath, martDir,
        "2024-04-02")
    }
    assert(incremental, "a same-spine batch takes the incremental refresh")
    info(s"month close: $closeJobs jobs, correction: $correctionJobs jobs")
    // The shape before the one-pass assembly and the shared probe ran
    // 46 and 54 jobs here.
    assert(closeJobs <= 24, s"month close ran $closeJobs jobs")
    assert(correctionJobs <= 28, s"correction ran $correctionJobs jobs")

    // The budget bought no staleness: the mart equals a full rebuild.
    val hub = HubStore.read(spark, hubPath)
    def unstamped(df: DataFrame): Set[String] = df.toJSON.collect()
      .map(_.replaceAll("\"last_updated\":\"[^\"]*\"", "")).toSet
    assert(unstamped(spark.read.parquet(martDir).drop("key_bucket")) ==
      unstamped(SeriesMart.build(hub, "2024-04-02")))
  }
}
