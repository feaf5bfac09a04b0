package graft.claims

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mart invariants from FIXTURES.md §4: zero-filled global month range,
  * history counts ALL rows while stats use Lag_Valid-only counts,
  * ddof=1 std, slope over last 3 months, filename sanitization.
  */
class SeriesMartSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val mart = SeriesMart.build(
    ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath),
    asOf = "2024-02-01").cache()

  test("one doc per (플랜트, 제품범주2, 대분류) with zero-filled global spine") {
    val docs = mart.collect()
    assert(docs.length == 2) // PLANT_A and PLANT_B groups
    val keys = docs.map(_.getAs[String]("key")).toSet
    assert(keys == Set("PLANT_A_CAT2_X_MAJOR_P", "PLANT_B_CAT2_Y_MAJOR_S"))
    // global spine 2023-10 .. 2024-01 (4 months incl. the 2023-12 gap)
    docs.foreach { d =>
      val hist = d.getAs[Row]("data").getAs[scala.collection.Seq[Row]]("history")
      assert(hist.map(_.getAs[String]("date")) ==
        Seq("2023-10", "2023-11", "2023-12", "2024-01"))
    }
  }

  test("history counts all rows; stats use Lag_Valid-only counts") {
    val a = mart.filter(col("key") === "PLANT_A_CAT2_X_MAJOR_P").collect()(0)
    val hist = a.getAs[Row]("data").getAs[scala.collection.Seq[Row]]("history")
      .map(r => r.getAs[String]("date") -> r.getAs[Int]("count")).toMap
    // all 4 PLANT_A rows dated: 2 in Oct, 2 in Nov
    assert(hist == Map("2023-10" -> 2, "2023-11" -> 2, "2023-12" -> 0, "2024-01" -> 0))
    // C004 has invalid lag → valid counts are [2,1,0,0]
    val stats = a.getAs[Row]("meta").getAs[Row]("parent_stats")
    val validMean = stats.getAs[Double]("mean")
    assert(math.abs(validMean - 0.75) < 1e-9) // (2+1+0+0)/4
    // ddof=1 std of [2,1,0,0] = sqrt((1.25^2... compute: mean .75,
    // ss = (1.5625+0.0625+0.5625+0.5625)/3) = sqrt(2.75/3)
    assert(math.abs(stats.getAs[Double]("std") - math.sqrt(2.75 / 3)) < 1e-9)
    // slope over last 3 valid counts [1,0,0] = (0-1)/2
    assert(math.abs(stats.getAs[Double]("slope") - (-0.5)) < 1e-9)
    // avg lag over valid rows C001(9), C002(9), C003(14) = 32/3 → 10.7
    assert(math.abs(stats.getAs[Double]("avg_lag_days") - 10.7) < 1e-9)
  }

  test("children grouped by 중분류 with own stats") {
    val a = mart.filter(col("key") === "PLANT_A_CAT2_X_MAJOR_P").collect()(0)
    val children = a.getAs[scala.collection.Seq[Row]]("children")
    assert(children.map(_.getAs[String]("sub_key")) == Seq("MIDDLE_Q", "MIDDLE_R"))
    val q = children.head
    val qh = q.getAs[scala.collection.Seq[Row]]("history").map(_.getAs[Int]("count"))
    assert(qh == Seq(2, 0, 0, 0))
  }

  test("per-key file export sanitizes filenames") {
    import spark.implicits._
    val dirty = Seq(
      ("P/1", "C:2", "M*3", "S?", "2024-01-10", true, 1)
    ).toDF("플랜트", "제품범주2", "대분류", "중분류", "접수일자", "Lag_Valid", "Lag_Days")
      .withColumn("접수일자", to_date(col("접수일자")))
    val m = SeriesMart.build(dirty, "2024-02-01")
    val dir = java.nio.file.Files.createTempDirectory("mart").toString
    assert(SeriesMart.writePerKeyFiles(m, dir) == 1)
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.toSeq == Seq("P-1_C-2_M-3.json"))
    val content = scala.io.Source.fromFile(s"$dir/${files.head}", "UTF-8").mkString
    assert(content.contains("\"key\":\"P/1_C:2_M*3\"")) // raw key preserved
    assert(!content.contains("filename_key"))
  }

  test("dataset sink round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("martds").toString
    SeriesMart.writeJsonDataset(mart, dir)
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("key", "meta", "data", "children"))
  }

  private def martDocs(dir: String): Set[String] =
    spark.read.parquet(dir).drop("key_bucket")
      .toJSON.collect().toSet

  /** The mart refresh over a hub held in memory: the count store that
    * hub maintains is `SeriesCounts.aggregate(hub)`, and the touched
    * keys are the batch rows' mart keys plus `priorKeys`.
    */
  private def refresh(hub: DataFrame, batch: DataFrame, asOf: String,
      dir: String, buckets: Option[Int] = None,
      priorKeys: Set[String] = Set.empty): Boolean =
    SeriesMart.refreshFromCounts(spark, SeriesCounts.aggregate(hub),
      martKeys(batch) ++ priorKeys, asOf, dir, buckets)

  private def martKeys(batch: DataFrame): Set[String] =
    batch.select(SeriesMart.martKey).distinct().collect()
      .map(_.getString(0)).toSet

  private def parquetListing(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
      .map(f => f.getPath.stripPrefix(dir) ->
        (f.lastModified(), f.length())).toMap
  }

  test("incremental refresh equals a full rebuild, touching one bucket") {
    import spark.implicits._
    val hub0 = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    val dir = java.nio.file.Files.createTempDirectory("martinc").toString
    // First call: no mart yet → full build (returns false). 64 buckets
    // (the fixture alone would size to one) so the two documents land
    // in different buckets.
    assert(!refresh(hub0, hub0, "2024-02-01", dir,
      buckets = Some(64)))
    val before = parquetListing(dir)
    // Batch inside the existing 2023-10..2024-01 spine, touching only
    // PLANT_A's series.
    val batch = ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      ClaimsEtl.withIngestSeq(Seq(
        ("C900", "2023", "12", "5", "PLANT_A", "CAT2_X", "MAJOR_P"))
        .toDF("상담번호", "접수년", "접수월", "접수일", "플랜트",
          "제품범주2", "대분류"))))
    val hub1 = hub0.drop(ClaimsSchema.ingestSeqCol)
      .unionByName(batch.drop(ClaimsSchema.ingestSeqCol))
    Thread.sleep(1100) // mtime resolution guard
    assert(refresh(hub1, batch, "2024-03-01", dir,
      buckets = Some(64)), "same-spine batch must take the incremental path")
    // Ground truth: the full rebuild over the same merged hub. The
    // one LEGITIMATE divergence is meta.last_updated — an untouched
    // document was not updated, so it keeps its original stamp where
    // a full rebuild re-stamps everything; compare modulo the stamp
    // and assert the stamps explicitly below.
    def unstamped(docs: Set[String]): Set[String] =
      docs.map(_.replaceAll("\"last_updated\":\"[^\"]*\"", ""))
    val full = SeriesMart.build(hub1, "2024-03-01").toJSON.collect().toSet
    assert(unstamped(martDocs(dir)) == unstamped(full),
      "incremental mart must equal the full rebuild document-for-document")
    val stamps = spark.read.parquet(dir)
      .select(col("key"), col("meta.last_updated")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(stamps("PLANT_A_CAT2_X_MAJOR_P") == "2024-03-01",
      "the touched doc carries the refresh stamp")
    assert(stamps("PLANT_B_CAT2_Y_MAJOR_S") == "2024-02-01",
      "an untouched doc keeps its original stamp byte-for-byte")
    // Only PLANT_A's bucket was rewritten; PLANT_B's kept its bytes.
    val after = parquetListing(dir)
    val changed = after.keySet.union(before.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(changed.nonEmpty)
    val untouchedBuckets = before.keySet.intersect(after.keySet) -- changed
    assert(untouchedBuckets.nonEmpty,
      "at least one bucket partition must keep its bytes")
  }

  private def mkBatch(rows: Seq[(String, String, String, String, String,
      String, String)]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      ClaimsEtl.withIngestSeq(rows
        .toDF("상담번호", "접수년", "접수월", "접수일", "플랜트",
          "제품범주2", "대분류"))))
  }

  /** The PRODUCTION merge (not a hand-rolled variant whose semantics
    * could drift): keep-last by (batch, ingest-seq), null-key collapse
    * included — the expected hub is exactly what an upsert persists.
    */
  private def mergeHub(hub: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    HubStore.merge(hub, batch)
      .drop(ClaimsSchema.ingestSeqCol, "_batch_seq")

  test("a parent-key move regenerates the document the claim left (priorKeys)") {
    val hub0 = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    // C003 re-filed from PLANT_A/CAT2_X/MAJOR_P to PLANT_B/CAT2_Y/MAJOR_S,
    // same receipt date (the global spine must not move).
    val batch = mkBatch(Seq(
      ("C003", "2023", "11", "15", "PLANT_B", "CAT2_Y", "MAJOR_S")))
    val hub1 = mergeHub(hub0, batch)
    val priors = SeriesMart.priorParentKeys(hub0, batch)
    assert(priors == Set("PLANT_A_CAT2_X_MAJOR_P"))

    // WITHOUT priorKeys the old document is left permanently stale —
    // the bug the parameter exists to close.
    val dirStale = java.nio.file.Files.createTempDirectory("martmv0").toString
    assert(!refresh(hub0, hub0, "2024-02-01", dirStale))
    assert(refresh(hub1, batch, "2024-03-01", dirStale))
    val staleA = spark.read.parquet(dirStale)
      .filter(col("key") === "PLANT_A_CAT2_X_MAJOR_P")
      .select(element_at(col("data.history"), 2).getField("count")).collect()
    assert(staleA(0).getInt(0) == 2,
      "without priorKeys the vacated doc still counts the moved claim")

    // WITH priorKeys the refresh equals the full rebuild.
    val dir = java.nio.file.Files.createTempDirectory("martmv1").toString
    assert(!refresh(hub0, hub0, "2024-02-01", dir))
    assert(refresh(hub1, batch, "2024-03-01", dir,
      priorKeys = priors))
    assert(martDocs(dir) ==
      SeriesMart.build(hub1, "2024-03-01").toJSON.collect().toSet,
      "with priorKeys both the old and new documents regenerate")
  }

  test("a drained document's bucket is deleted, not left as a ghost") {
    val hub0 = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    // Every PLANT_A claim re-filed under PLANT_B: the PLANT_A document
    // has zero rows left and must disappear from the mart.
    val batch = mkBatch(Seq(
      ("C001", "2023", "10", "10", "PLANT_B", "CAT2_Y", "MAJOR_S"),
      ("C002", "2023", "10", "11", "PLANT_B", "CAT2_Y", "MAJOR_S"),
      ("C003", "2023", "11", "15", "PLANT_B", "CAT2_Y", "MAJOR_S"),
      ("C004", "2023", "11", "16", "PLANT_B", "CAT2_Y", "MAJOR_S")))
    val hub1 = mergeHub(hub0, batch)
    val dir = java.nio.file.Files.createTempDirectory("martdrain").toString
    assert(!refresh(hub0, hub0, "2024-02-01", dir,
      buckets = Some(64)))
    val priors = SeriesMart.priorParentKeys(hub0, batch)
    assert(refresh(hub1, batch, "2024-03-01", dir,
      buckets = Some(64), priorKeys = priors))
    assert(martDocs(dir) ==
      SeriesMart.build(hub1, "2024-03-01").toJSON.collect().toSet)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1 &&
      back.select("key").collect()(0).getString(0) == "PLANT_B_CAT2_Y_MAJOR_S")
    // Exactly one bucket dir survives; the journal is cleaned up.
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.length == 1 && dirs(0).startsWith("key_bucket="))
    assert(!new java.io.File(dir, SeriesMart.martPendingDeletesFile).exists)
  }

  test("a journaled in-flight upload survives a crash before the refresh") {
    val hub0 = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    val batch = mkBatch(Seq(
      ("C003", "2023", "11", "15", "PLANT_B", "CAT2_Y", "MAJOR_S")))
    val hub1 = mergeHub(hub0, batch)
    val dir = java.nio.file.Files.createTempDirectory("martcrash").toString
    assert(!refresh(hub0, hub0, "2024-02-01", dir))
    // The upload flow: journal the pre-upsert parent keys, commit the
    // hub... then CRASH before the refresh runs. The retry re-probes
    // the MERGED hub, where C003 is already filed under PLANT_B — so
    // it passes no priorKeys, and only the durable journal can tell it
    // the PLANT_A document changed.
    SeriesMart.journalTouchedKeys(spark, dir,
      SeriesMart.priorParentKeys(hub0, batch))
    assert(refresh(hub1, batch, "2024-03-01", dir),
      "the retry takes the incremental path")
    assert(martDocs(dir) ==
      SeriesMart.build(hub1, "2024-03-01").toJSON.collect().toSet,
      "the journaled key regenerates the document the claim left")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(SeriesMart.touchedJournalFile)),
      "the honored journal generations are cleared")
  }

  test("a crashed upload's retry through UploadFlow regenerates the vacated doc") {
    val base = java.nio.file.Files.createTempDirectory("flowcrash").toString
    val hubPath = s"$base/hub"
    val mart = s"$base/mart"
    val fixture = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    assert(!UploadFlow.run(spark, fixture, hubPath, mart, "2024-02-01"))

    // The crashed attempt = the flow's own first three steps (probe,
    // journal, hub upsert), then death before the refresh.
    val batch = mkBatch(Seq(
      ("C003", "2023", "11", "15", "PLANT_B", "CAT2_Y", "MAJOR_S")))
    SeriesMart.journalTouchedKeys(spark, mart,
      SeriesMart.priorParentKeys(HubStore.read(spark, hubPath), batch))
    HubStore.upsert(spark, batch, hubPath, onAffected = p =>
      SeriesCounts.journalParts(spark, SeriesCounts.dirFor(mart), p))

    // The retry is the REAL flow end-to-end. Its own probe sees only
    // the claim's NEW location in the merged hub and re-journals —
    // which must UNION with, not replace, the crashed attempt's
    // pre-move key, or PLANT_A's document stays stale.
    assert(UploadFlow.run(spark, batch, hubPath, mart, "2024-03-01"))
    val hub = HubStore.read(spark, hubPath)
    assert(martDocs(mart) ==
      SeriesMart.build(hub, "2024-03-01").toJSON.collect().toSet,
      "the retried flow heals the crashed upload's mart state")
    assert(!new java.io.File(mart).listFiles()
      .exists(_.getName.startsWith(SeriesMart.touchedJournalFile)))
  }

  test("bucket-count drift and a missing meta marker force the full rebuild") {
    val hub0 = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    val batch = mkBatch(Seq(
      ("C900", "2023", "12", "5", "PLANT_A", "CAT2_X", "MAJOR_P")))
    val hub1 = mergeHub(hub0, batch)
    // Layout written with 64 buckets; a refresh asking for 8 would
    // union two hash layouts — must fall back to the full rebuild.
    val dir = java.nio.file.Files.createTempDirectory("martbkt").toString
    assert(!refresh(hub0, hub0, "2024-02-01", dir,
      buckets = Some(64)))
    assert(!refresh(hub1, batch, "2024-03-01", dir,
      buckets = Some(8)), "bucket-count drift must force the full-rebuild path")
    assert(martDocs(dir) ==
      SeriesMart.build(hub1, "2024-03-01").toJSON.collect().toSet)
    // A mart written by writeBucketedMart directly has no meta marker:
    // the first refresh over it must full-rebuild (and self-heal by
    // writing the marker), not trust an unverifiable layout.
    val dir2 = java.nio.file.Files.createTempDirectory("martmeta").toString
    SeriesMart.writeBucketedMart(SeriesMart.build(hub0, "2024-02-01"), dir2,
      buckets = 64)
    assert(!refresh(hub1, batch, "2024-03-01", dir2),
      "meta-less layout must force the full-rebuild path")
    assert(refresh(hub1, batch, "2024-04-01", dir2),
      "the rebuild self-heals: the next same-spine refresh is incremental")
  }

  test("scale rehearsal: refreshing 1 of 1500 keys rewrites one bucket") {
    import spark.implicits._
    // 36k rows, 1500 parent series over a fixed 24-month spine — the
    // 100 TB posture in miniature: an upload touching ONE series must
    // cost one bucket rewrite + one delta rebuild, not O(mart).
    // The count store keeps the hub's 접수년/접수월 partitioning.
    def withPartitionCols(df: DataFrame): DataFrame = df
      .withColumn("접수년", year(col("접수일자")))
      .withColumn("접수월", month(col("접수일자")))
    def syntheticHub(n: Long): org.apache.spark.sql.DataFrame =
      spark.range(n).select(
        concat(lit("P"), (col("id") % 500).cast("string")).as("플랜트"),
        concat(lit("C"), ((col("id") % 1500) / 500).cast("int").cast("string"))
          .as("제품범주2"),
        lit("M").as("대분류"),
        concat(lit("S"), (col("id") % 4).cast("string")).as("중분류"),
        add_months(to_date(lit("2022-01-15")), (col("id") % 24).cast("int"))
          .as("접수일자"),
        (col("id") % 3 =!= 0).as("Lag_Valid"),
        (col("id") % 30).cast("int").as("Lag_Days"))
        .transform(withPartitionCols)
    val hub = syntheticHub(36000)
    val dir = java.nio.file.Files.createTempDirectory("martscale").toString
    assert(!refresh(hub, hub, "2024-01-01", dir,
      buckets = Some(64)))
    val docs0 = spark.read.parquet(dir)
    assert(docs0.count() == 1500)
    val before = parquetListing(dir)

    // One new claim for one series, inside the existing spine.
    val batch = Seq(("P7", "C0", "M", "S1", "2022-05-20", true, 3))
      .toDF("플랜트", "제품범주2", "대분류", "중분류", "접수일자",
        "Lag_Valid", "Lag_Days")
      .withColumn("접수일자", to_date(col("접수일자")))
      .transform(withPartitionCols)
    val hub2 = hub.unionByName(batch)
    Thread.sleep(1100) // mtime resolution guard
    assert(refresh(hub2, batch, "2024-02-01", dir,
      buckets = Some(64)),
      "a same-spine single-series batch must take the incremental path")

    // Exactly the touched key's bucket changed; 1499 documents kept
    // their bytes untouched.
    val after = parquetListing(dir)
    val changed = after.keySet.union(before.keySet)
      .filter(k => before.get(k) != after.get(k))
    val changedBuckets = changed.flatMap(
      "key_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).toSet
    assert(changedBuckets.size == 1,
      s"one touched key must rewrite one bucket, got: $changedBuckets")
    // The touched document matches a from-scratch rebuild of hub2.
    val key = "P7_C0_M"
    val got = spark.read.parquet(dir).filter(col("key") === key)
      .drop(bucketColName).toJSON.collect().toSet
    val want = SeriesMart.build(hub2, "2024-02-01")
      .filter(col("key") === key).toJSON.collect().toSet
    assert(got == want, "touched document must equal the full rebuild's")
    assert(spark.read.parquet(dir).count() == 1500)
  }

  private val bucketColName = "key_bucket"

  test("point lookup prunes to one bucket and survives a marker-less layout") {
    import spark.implicits._
    val hub0 = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    val dir = java.nio.file.Files.createTempDirectory("martread").toString
    SeriesMart.writeBucketedMart(SeriesMart.build(hub0, "2024-02-01"), dir,
      buckets = 64)
    val want = SeriesMart.build(hub0, "2024-02-01")
      .filter(col("key") === "PLANT_A_CAT2_X_MAJOR_P")
      .toJSON.collect().toSet

    val doc = SeriesMart.readDocument(spark, dir, "PLANT_A_CAT2_X_MAJOR_P")
    assert(doc.toJSON.collect().toSet == want)
    // The bucketed path must read only the key's partition directory.
    val bucket = Seq("PLANT_A_CAT2_X_MAJOR_P").toDF("k")
      .select(pmod(xxhash64(col("k")), lit(64))).collect()(0).getLong(0)
    assert(doc.inputFiles.nonEmpty &&
      doc.inputFiles.forall(_.contains(s"/key_bucket=$bucket/")),
      s"point lookup must read only key_bucket=$bucket: ${doc.inputFiles.toSeq}")

    // A layout with no meta marker degrades to a key-filtered scan,
    // never a wrong-bucket miss.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, SeriesMart.martMetaFile), false)
    assert(SeriesMart.readDocument(spark, dir, "PLANT_A_CAT2_X_MAJOR_P")
      .toJSON.collect().toSet == want)
  }

  test("point lookup on a 64-bucket mart reads one bucket; an absent key is empty") {
    import spark.implicits._
    val hub0 = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    val dir = java.nio.file.Files.createTempDirectory("martread64").toString
    val built = SeriesMart.build(hub0, "2024-02-01")
    SeriesMart.writeBucketedMart(built, dir, buckets = 64)
    def bucketOf(keys: Seq[String]): Map[String, Long] =
      keys.toDF("k").select(col("k"), pmod(xxhash64(col("k")), lit(64)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keys = Seq("PLANT_A_CAT2_X_MAJOR_P", "PLANT_B_CAT2_Y_MAJOR_S")
    val present = bucketOf(keys)
    var schema: org.apache.spark.sql.types.StructType = null
    for (k <- keys) {
      val doc = SeriesMart.readDocument(spark, dir, k)
      assert(doc.toJSON.collect().toSet ==
        built.filter(col("key") === k).toJSON.collect().toSet)
      assert(doc.inputFiles.nonEmpty && doc.inputFiles.forall(
        _.contains(s"/key_bucket=${present(k)}/")), doc.inputFiles.toSeq)
      schema = doc.schema
    }
    // Absent keys: one whose bucket directory does not exist, one that
    // shares a bucket with a stored document. Both read back empty,
    // with the document schema.
    val probes = bucketOf((0 until 500).map(i => s"ABSENT_$i"))
    val noDir = probes.find(p => !present.values.toSet(p._2)).get._1
    val sharedDir = probes.find(p => present.values.toSet(p._2)).get._1
    assert(!new java.io.File(dir, s"key_bucket=${probes(noDir)}").exists)
    for (k <- Seq(noDir, sharedDir)) {
      val doc = SeriesMart.readDocument(spark, dir, k)
      assert(doc.collect().isEmpty, k)
      assert(doc.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
      assert(doc.schema.map(_.dataType) == schema.map(_.dataType))
    }
  }

  test("a zero bucket count is refused, and a zero marker counts as none") {
    val hub0 = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    val dir = java.nio.file.Files.createTempDirectory("martzero").toString
    // pmod by 0 is NULL: every document would land in the HIVE default
    // partition under a marker claiming zero buckets.
    intercept[IllegalArgumentException] {
      SeriesMart.writeBucketedMart(SeriesMart.build(hub0, "2024-02-01"),
        dir, buckets = 0)
    }
    assert(!refresh(hub0, hub0, "2024-02-01", dir))
    // Plant a zero count beside the mart's true spine, so only the
    // count is wrong.
    val root = new org.apache.hadoop.fs.Path(dir)
    DeleteJournal.writeMarkerAtomic(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
      SeriesMart.martMetaFile, "buckets=0\nlo=2023-10\nhi=2024-01\n")
    val key = "PLANT_A_CAT2_X_MAJOR_P"
    assert(SeriesMart.readDocument(spark, dir, key).count() == 1,
      "a zero-count marker degrades the lookup to a key-filtered scan")
    val batch = mkBatch(Seq(
      ("C900", "2023", "12", "5", "PLANT_A", "CAT2_X", "MAJOR_P")))
    val hub1 = mergeHub(hub0, batch)
    assert(!refresh(hub1, batch, "2024-03-01", dir),
      "a zero-count marker must force the full-rebuild path")
    assert(martDocs(dir) ==
      SeriesMart.build(hub1, "2024-03-01").toJSON.collect().toSet)
    assert(SeriesMart.readDocument(spark, dir, key).count() == 1)
  }

  test("a spine-extending batch forces the guarded full rebuild") {
    import spark.implicits._
    val hub0 = ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)
    val dir = java.nio.file.Files.createTempDirectory("martinc2").toString
    assert(!refresh(hub0, hub0, "2024-02-01", dir))
    // 2024-05 extends the global spine: every document's zero-filled
    // history grows, so the incremental path would corrupt untouched
    // docs — the guard must run the full rebuild instead.
    val batch = ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      ClaimsEtl.withIngestSeq(Seq(
        ("C901", "2024", "5", "2", "PLANT_A", "CAT2_X", "MAJOR_P"))
        .toDF("상담번호", "접수년", "접수월", "접수일", "플랜트",
          "제품범주2", "대분류"))))
    val hub1 = hub0.drop(ClaimsSchema.ingestSeqCol)
      .unionByName(batch.drop(ClaimsSchema.ingestSeqCol))
    assert(!refresh(hub1, batch, "2024-06-01", dir),
      "spine change must force the full-rebuild path")
    assert(martDocs(dir) ==
      SeriesMart.build(hub1, "2024-06-01").toJSON.collect().toSet)
    // Every doc's history now spans through 2024-05.
    assert(spark.read.parquet(dir)
      .select(element_at(col("data.history"), -1).getField("date").as("d"))
      .collect().forall(_.getString(0) == "2024-05"))
  }
}
