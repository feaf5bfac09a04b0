package graft.claims

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Key-bucket counts of flow-born stores are sized from the data: the
  * smallest power of two that keeps one bucket (one month of the hub,
  * the whole mart) at or under one scan split. Stores that exist keep
  * the count their marker records.
  */
class KeyBucketSizingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val splitConf = "spark.sql.files.maxPartitionBytes"

  private def fixture(): DataFrame =
    ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)

  private def mkBatch(rows: Seq[(String, String, String, String)]): DataFrame = {
    import spark.implicits._
    ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(ClaimsEtl.withIngestSeq(
      rows.map { case (k, y, m, d) => (k, y, m, d, "PLANT_A", "CAT2_X", "MAJOR_P") }
        .toDF("상담번호", "접수년", "접수월", "접수일", "플랜트", "제품범주2", "대분류"))))
  }

  /** A same-spine batch (2023-10 exists in the fixture). */
  private def sameSpine(): DataFrame = mkBatch(Seq(("C900", "2023", "10", "20")))

  private def hubBuckets(hub: String): Option[Int] = {
    val root = new org.apache.hadoop.fs.Path(hub)
    HubStore.readHubMeta(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def martBuckets(mart: String): Int = {
    val src = scala.io.Source.fromFile(
      new java.io.File(mart, SeriesMart.martMetaFile), "UTF-8")
    try src.getLines().collectFirst {
      case l if l.startsWith("buckets=") => l.stripPrefix("buckets=").toInt
    }.get
    finally src.close()
  }

  private def bucketDirs(dir: String, depth: Int): Set[String] = {
    def walk(f: java.io.File, d: Int): Seq[java.io.File] =
      if (d == 0) Seq(f)
      else f.listFiles().toSeq.filter(_.isDirectory).flatMap(walk(_, d - 1))
    walk(new java.io.File(dir), depth).map(_.getName).toSet
  }

  private def withSplit[T](bytes: Long)(body: => T): T = {
    spark.conf.set(splitConf, bytes.toString)
    try body finally spark.conf.unset(splitConf)
  }

  private def isPowerOfTwo(n: Int): Boolean = n > 0 && (n & (n - 1)) == 0

  test("bucketsFor picks the smallest power of two keeping a bucket within a split") {
    withSplit(1000) {
      assert(HubStore.bucketsFor(spark, 0) == 1)
      assert(HubStore.bucketsFor(spark, 1000) == 1)
      assert(HubStore.bucketsFor(spark, 1001) == 2)
      assert(HubStore.bucketsFor(spark, 4000) == 4)
      assert(HubStore.bucketsFor(spark, 4001) == 8)
    }
  }

  test("small input gives one bucket, and the markers record it") {
    val base = Files.createTempDirectory("size1").toString
    assert(!UploadFlow.run(spark, fixture(), s"$base/hub", s"$base/mart",
      "2024-02-01"))
    assert(hubBuckets(s"$base/hub").contains(1))
    assert(martBuckets(s"$base/mart") == 1)
    assert(bucketDirs(s"$base/hub", 3) == Set(s"${HubStore.bucketPartCol}=0"),
      "every hub month holds the single bucket 0")
    assert(bucketDirs(s"$base/mart", 1) == Set("key_bucket=0"))
  }

  test("a shrunken split size gives a power of two above one") {
    val base = Files.createTempDirectory("size2").toString
    val (hb, mb) = withSplit(1024) {
      assert(!UploadFlow.run(spark, fixture(), s"$base/hub", s"$base/mart",
        "2024-02-01"))
      (hubBuckets(s"$base/hub").get, martBuckets(s"$base/mart"))
    }
    assert(hb > 1 && isPowerOfTwo(hb), s"hub buckets $hb")
    assert(mb > 1 && isPowerOfTwo(mb), s"mart buckets $mb")
    // The sized layout maintains the same documents as a full build.
    val hub = HubStore.read(spark, s"$base/hub")
    assert(hub.count() == 6)
    val want = SeriesMart.build(hub, "2024-02-01").toJSON.collect().toSet
    assert(spark.read.parquet(s"$base/mart").drop("key_bucket")
      .toJSON.collect().toSet == want)
  }

  test("an incremental refresh reuses the marker's count, not a fresh sizing") {
    val base = Files.createTempDirectory("size3").toString
    val (hub, mart) = (s"$base/hub", s"$base/mart")
    val mb = withSplit(1024) {
      assert(!UploadFlow.run(spark, fixture(), hub, mart, "2024-02-01"))
      martBuckets(mart)
    }
    assert(mb > 1)
    // At the default split this data would size to one bucket; the
    // same-spine upload must keep the marker's count and stay
    // incremental rather than force a full rebuild.
    assert(UploadFlow.run(spark, sameSpine(), hub, mart, "2024-03-01"),
      "a same-spine upload takes the incremental path")
    assert(martBuckets(mart) == mb)
    val merged = HubStore.read(spark, hub)
    def unstamped(docs: Set[String]) =
      docs.map(_.replaceAll("\"last_updated\":\"[^\"]*\"", ""))
    assert(unstamped(spark.read.parquet(mart).drop("key_bucket")
      .toJSON.collect().toSet) ==
      unstamped(SeriesMart.build(merged, "2024-03-01").toJSON.collect().toSet))
  }

  test("an existing 32-bucket hub and 64-bucket mart keep their counts") {
    val base = Files.createTempDirectory("size4").toString
    val (hub, mart) = (s"$base/hub", s"$base/mart")
    assert(!UploadFlow.run(spark, fixture(), hub, mart, "2024-02-01",
      buckets = Some(64), hubLayout = HubStore.Bucketed(Some(32))))
    // Later uploads size nothing: the markers carry the counts.
    assert(UploadFlow.run(spark, sameSpine(), hub, mart, "2024-03-01"),
      "a same-spine upload into a 64-bucket mart stays incremental")
    assert(hubBuckets(hub).contains(32))
    assert(martBuckets(mart) == 64)
    // A hub migrated with an explicit count keeps it on a sized re-run.
    val flat = s"$base/flat"
    HubStore.write(fixture(), flat)
    HubStore.migrateToBucketed(spark, flat, buckets = Some(32))
    HubStore.migrateToBucketed(spark, flat)
    assert(hubBuckets(flat).contains(32))
  }

  test("migrateToBucketed sizes a flat hub from its largest month on disk") {
    val flat = Files.createTempDirectory("size5").toString + "/hub"
    HubStore.write(fixture(), flat)
    HubStore.migrateToBucketed(spark, flat)
    assert(hubBuckets(flat).contains(1))
    val flat2 = Files.createTempDirectory("size6").toString + "/hub"
    HubStore.write(fixture(), flat2)
    val b = withSplit(64) {
      HubStore.migrateToBucketed(spark, flat2)
      hubBuckets(flat2).get
    }
    assert(b > 1 && isPowerOfTwo(b), s"hub buckets $b")
    assert(HubStore.read(spark, flat2).count() == 6)
  }
}
