package graft.claims

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hub storage semantics (ref: core/storage.py:19-271): hive-partitioned
  * write, upsert-by-key merge with new-batch-wins, partition-pruned
  * read, catalog listing.
  */
class HubStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def ingest(): org.apache.spark.sql.DataFrame =
    ClaimsEtl.ingestCsv(spark,
      getClass.getResource("/claims_fixture.csv").getPath)

  test("partitioned write produces hive layout with null partitions as 0") {
    val dir = Files.createTempDirectory("hub").toString
    HubStore.write(ingest(), dir)
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("접수년="))
    assert(dirs.toSet == Set("접수년=2023", "접수년=2024"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 6)
  }

  test("partition-pruned read equals filtered full read") {
    val dir = Files.createTempDirectory("hub").toString
    HubStore.write(ingest(), dir)
    val pruned = HubStore.read(spark, dir, year = Some(2023), month = Some(11))
    assert(pruned.count() == 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "expected partition pruning in plan")
  }

  test("upsert: new batch wins on key collision, new keys appended") {
    import spark.implicits._
    val dir = Files.createTempDirectory("hub").toString
    HubStore.write(ingest(), dir)

    val update = ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      ClaimsEtl.withIngestSeq(Seq(
        // C001 re-uploaded with a different grade; C099 brand new
        ("C001", "2023", "10", "10", "PLANT_A", "중대"),
        ("C099", "2024", "2", "1", "PLANT_B", "일반"))
        .toDF("상담번호", "접수년", "접수월", "접수일", "플랜트", "등급기준"))))
    HubStore.upsert(spark, update, dir)

    val after = spark.read.parquet(dir)
    assert(after.count() == 7)
    val c1 = after.filter(col("상담번호") === "C001")
      .select("등급기준").collect()(0).getString(0)
    assert(c1 == "중대")
  }

  test("upsert deletes a partition whose claims all moved away") {
    import spark.implicits._
    // The round-9 review repro: 2023/11 holds exactly C003/C004; an
    // update moves BOTH to 2024/03. Under dynamic overwrite the
    // merged output contains no 2023/11 rows, so that directory was
    // never rewritten and its stale files survived — the hub held two
    // versions of each moved claim. The static full rewrite (the
    // reference's read-merge-rewrite semantics) must leave exactly
    // one version and no 2023/11 partition.
    val dir = Files.createTempDirectory("hub").toString
    HubStore.write(ingest(), dir)
    assert(HubStore.read(spark, dir, year = Some(2023), month = Some(11))
      .count() == 2)
    val moved = ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      Seq(("C003", "2024", "3", "5"), ("C004", "2024", "3", "6"))
        .toDF("상담번호", "접수년", "접수월", "접수일")))
    HubStore.upsert(spark, moved, dir)
    val back = spark.read.parquet(dir)
    assert(back.filter(col("상담번호").isin("C003", "C004")).count() == 2,
      "exactly one version of each moved claim")
    assert(back.filter(col("접수년") === 2023 && col("접수월") === 11)
      .count() == 0, "the emptied partition must be deleted, not stale")
    assert(back.count() == 6)
  }

  test("upsert rewrites only the affected partitions") {
    import spark.implicits._
    // The fixture hub spans 2023/10, 2023/11 and 2024/01. An update
    // touching a 2023/10 claim plus a brand-new 2024/02 claim must
    // leave the bytes of 2023/11 and 2024/01 untouched — upsert cost
    // has to be O(touched partitions), not O(hub) (the round-9 full
    // static rewrite was correct but rewrote every partition per
    // incremental batch).
    val dir = Files.createTempDirectory("hub").toString
    HubStore.write(ingest(), dir)
    def listing(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
        .map(f => f.getPath.stripPrefix(dir) ->
          (f.lastModified(), f.length())).toMap
    }
    val before = listing()
    assert(before.keys.exists(_.contains("접수년=2023/접수월=11")))
    Thread.sleep(1100) // mtime resolution guard
    val update = ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      ClaimsEtl.withIngestSeq(Seq(
        ("C001", "2023", "10", "15", "PLANT_A", "중대"),
        ("C777", "2024", "2", "1", "PLANT_B", "일반"))
        .toDF("상담번호", "접수년", "접수월", "접수일", "플랜트", "등급기준"))))
    HubStore.upsert(spark, update, dir)
    val after = listing()
    def part(m: Map[String, (Long, Long)], p: String) =
      m.filter(_._1.contains(p))
    // Untouched partitions: identical file set, mtimes and sizes.
    for (p <- Seq("접수년=2023/접수월=11", "접수년=2024/접수월=1/"))
      assert(part(after, p) == part(before, p),
        s"partition $p must not be rewritten")
    // Touched partition rewritten, new partition created.
    assert(part(after, "접수년=2023/접수월=10") !=
      part(before, "접수년=2023/접수월=10"))
    assert(part(after, "접수년=2024/접수월=2").nonEmpty)
    // Semantics unchanged: new batch wins, new key appended.
    val back = spark.read.parquet(dir)
    assert(back.count() == 7)
    assert(back.filter(col("상담번호") === "C001")
      .select("등급기준").collect()(0).getString(0) == "중대")
  }

  test("a null-key batch row collapses all null-key hub rows") {
    import spark.implicits._
    // Null keys never match the equality semi-join that scopes the
    // affected partitions, but the merge's groupBy collapses ALL
    // null-key rows into one winner — so a null-key batch row must
    // pull every partition holding null-key hub rows into the merge,
    // or the old copies would survive outside its scope (review r10;
    // the full static rewrite collapsed them globally).
    val dir = Files.createTempDirectory("hub").toString
    val hub0 = ClaimsEtl.canonicalize54(Seq(
      ("K1", "2023", "10", "1", "A"),
      (null, "2023", "10", "2", "OLDNULL"),
      ("K2", "2024", "1", "3", "B"))
      .toDF("상담번호", "접수년", "접수월", "접수일", "플랜트"))
    HubStore.write(hub0, dir)
    val batch = ClaimsEtl.canonicalize54(Seq(
      (null, "2024", "2", "4", "NEWNULL"))
      .toDF("상담번호", "접수년", "접수월", "접수일", "플랜트"))
    HubStore.upsert(spark, batch, dir)
    val back = spark.read.parquet(dir)
    val nulls = back.filter(col("상담번호").isNull)
      .select("플랜트").collect().map(_.getString(0)).toSeq
    assert(nulls == Seq("NEWNULL"),
      "exactly one null-key row, the batch's (new batch wins)")
    assert(back.count() == 3)
  }

  test("a journaled pending-delete marker is healed by the next upsert") {
    import spark.implicits._
    // Crash simulation: the overwrite committed but the JVM died
    // before the vacated-partition deletes — the journal survives and
    // the next upsert must finish the deletes before reading the hub.
    val dir = Files.createTempDirectory("hub").toString
    HubStore.write(ingest(), dir)
    val stale = new java.io.File(dir, "접수년=2023/접수월=11")
    assert(stale.exists)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, HubStore.pendingDeletesFile),
      "접수년=2023/접수월=11".getBytes("UTF-8"))
    val update = ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      ClaimsEtl.withIngestSeq(Seq(("C001", "2023", "10", "20"))
        .toDF("상담번호", "접수년", "접수월", "접수일"))))
    HubStore.upsert(spark, update, dir)
    assert(!stale.exists, "journaled stale partition must be deleted")
    assert(!new java.io.File(dir, "접수년=2023").listFiles()
      .map(_.getName).contains("접수월=11"))
    assert(!new java.io.File(dir, HubStore.pendingDeletesFile).exists,
      "marker removed after healing")
    assert(spark.read.parquet(dir)
      .filter(col("접수년") === 2023 && col("접수월") === 11).count() == 0)
  }

  test("re-running a batch heals the post-commit crash window") {
    import spark.implicits._
    // The residual window the upsert scaladoc documents: the merged
    // overwrite committed but the JVM died before the vacated-delete
    // journal was even created — stale moved-away rows survive with
    // no marker to heal from. The recovery contract is IDEMPOTENT
    // REPLAY: re-running the same batch rediscovers the stale
    // partition via the key semi-join and finishes the move.
    val dir = Files.createTempDirectory("hub").toString
    HubStore.write(ingest(), dir)
    val moved = ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      Seq(("C003", "2024", "3", "5"), ("C004", "2024", "3", "6"))
        .toDF("상담번호", "접수년", "접수월", "접수일")))
    val stale = java.nio.file.Paths.get(dir, "접수년=2023", "접수월=11")
    // Snapshot the partition that the upsert will vacate…
    val saved = java.nio.file.Files.createTempDirectory("stale")
    stale.toFile.listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, saved.resolve(f.getName)))
    HubStore.upsert(spark, moved, dir)
    assert(!java.nio.file.Files.exists(stale))
    // …and restore it: the exact on-disk state after the crash.
    java.nio.file.Files.createDirectories(stale)
    saved.toFile.listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, stale.resolve(f.getName)))
    assert(spark.read.parquet(dir)
      .filter(col("상담번호").isin("C003", "C004")).count() == 4,
      "crash state: two versions of each moved claim")
    HubStore.upsert(spark, moved, dir) // the natural retry
    val back = spark.read.parquet(dir)
    assert(back.filter(col("상담번호").isin("C003", "C004")).count() == 2,
      "replay must leave exactly one version of each moved claim")
    assert(!java.nio.file.Files.exists(stale),
      "replay must delete the re-vacated stale partition")
  }

  test("catalog lists partitions newest first with counts") {
    val dir = Files.createTempDirectory("hub").toString
    HubStore.write(ingest(), dir)
    val cat = HubStore.catalog(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(cat.head._1 == 2024)
    assert(cat.map(_._3).sum == 6)
  }

  test("merge is idempotent for identical batches") {
    val a = ingest()
    val merged = HubStore.merge(a, a)
    assert(merged.count() == a.count())
  }

  private def mkBatch(rows: Seq[(String, String, String, String)]) = {
    import spark.implicits._
    ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      ClaimsEtl.withIngestSeq(rows
        .toDF("상담번호", "접수년", "접수월", "접수일"))))
  }

  private def walkListing(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
      .map(f => f.getPath.stripPrefix(dir) -> (f.lastModified(), f.length()))
      .toMap
  }

  test("bucket-layout upsert matches the flat upsert row-for-row") {
    // Same initial load + same batch through both layouts: the hash
    // bucket level must be invisible to the merged CONTENT — including
    // cross-month moves and fresh keys.
    val flat = Files.createTempDirectory("hubp1").toString
    val bkt = Files.createTempDirectory("hubp2").toString
    HubStore.write(ingest(), flat)
    HubStore.writeBucketedHub(ingest(), bkt, buckets = 4)
    val batch = mkBatch(Seq(
      ("C001", "2023", "10", "20"), // in-place update
      ("C003", "2024", "3", "5"),   // cross-month move
      ("C777", "2024", "2", "1"))) // brand new
    HubStore.upsert(spark, batch, flat)
    HubStore.upsert(spark, batch, bkt)
    val f = spark.read.parquet(flat)
    val b = spark.read.parquet(bkt).drop(HubStore.bucketPartCol)
    assert(f.count() == b.count())
    assert(f.select(b.columns.map(col): _*).exceptAll(b).isEmpty &&
      b.exceptAll(f.select(b.columns.map(col): _*)).isEmpty,
      "bucketed and flat upserts must converge to identical rows")
    // The moved claim's old (y, m, bucket) partition is gone, and the
    // emptied month/year levels are pruned (2023-11 still has C004's
    // bucket, so only the bucket level goes there if C003 shared none).
    assert(!new java.io.File(s"$bkt/접수년=2024/접수월=3").exists() ||
      spark.read.parquet(bkt).filter(col("상담번호") === "C003")
        .count() == 1)
  }

  test("bucket-layout upsert keeps untouched buckets byte-identical") {
    import spark.implicits._
    // 64 keys over 8 buckets in ONE month: an update to a single key
    // must rewrite that key's bucket dir only — the other buckets of
    // the same month keep their bytes. This is the probe+rewrite
    // granularity the flat layout cannot give (it rewrites the whole
    // touched month).
    val dir = Files.createTempDirectory("hubb").toString
    val wide = ClaimsEtl.preprocess(ClaimsEtl.canonicalize54(
      ClaimsEtl.withIngestSeq(
        spark.range(64).select(
          concat(lit("K"), col("id")).as("상담번호"),
          lit("2023").as("접수년"), lit("10").as("접수월"),
          (col("id") % 28 + 1).cast("string").as("접수일")))))
    HubStore.writeBucketedHub(wide, dir, buckets = 8)
    val before = walkListing(dir)
    Thread.sleep(1100) // mtime resolution guard
    HubStore.upsert(spark, mkBatch(Seq(("K7", "2023", "10", "9"))), dir)
    val after = walkListing(dir)
    val changed = after.keySet.union(before.keySet)
      .filter(k => before.get(k) != after.get(k))
    val changedBuckets = changed.flatMap(
      "_key_bucket=(-?\\d+)".r.findFirstMatchIn(_).map(_.group(1)))
    assert(changedBuckets.size == 1,
      s"one key must rewrite exactly its own bucket, got: $changedBuckets")
    val untouched = before.keySet -- changed
    assert(untouched.nonEmpty && untouched.forall(k => after(k) == before(k)),
      "the other buckets keep their bytes")
    assert(spark.read.parquet(dir).count() == 64)
    assert(spark.read.parquet(dir).filter(col("상담번호") === "K7")
      .select("접수일").collect()(0).getInt(0) == 9)
  }

  test("a torn bucketed layout (marker missing) fails the next upsert loudly") {
    // writeBucketedHub stamps its marker after the data commits; a
    // crash mid-write leaves _key_bucket= dirs with no marker. The
    // next upsert must refuse (naming the heal), NOT silently treat
    // the path as flat and interleave two-level writes into it.
    val dir = Files.createTempDirectory("hubtorn").toString
    HubStore.writeBucketedHub(ingest(), dir, buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, HubStore.hubMetaFile), false)
    val e = intercept[IllegalStateException] {
      HubStore.upsert(spark, mkBatch(Seq(("C900", "2024", "2", "1"))), dir)
    }
    assert(e.getMessage.contains("writeBucketedHub"))
    // The named heal restores the layout and upserts work again.
    HubStore.writeBucketedHub(ingest(), dir, buckets = 4)
    HubStore.upsert(spark, mkBatch(Seq(("C900", "2024", "2", "1"))), dir)
    assert(spark.read.parquet(dir).count() == 7)
  }

  test("a flat write onto a bucketed layout fails loudly") {
    val dir = Files.createTempDirectory("hubguard").toString
    HubStore.writeBucketedHub(ingest(), dir, buckets = 4)
    val e = intercept[IllegalStateException] {
      HubStore.write(ingest(), dir)
    }
    assert(e.getMessage.contains("bucketed-hub layout"))
    // upsert on the same path keeps working (layout-detecting).
    HubStore.upsert(spark, mkBatch(Seq(("C900", "2024", "2", "1"))), dir)
    assert(spark.read.parquet(dir).count() == 7)
  }

  test("a flat write onto a TORN bucketed layout (no marker) fails loudly") {
    // Round-11 advice: write()'s guard keyed only on the marker, so a
    // crashed writeBucketedHub (bucket dirs committed, marker not yet
    // stamped) let a flat write interleave two-level partitions into
    // the torn three-level layout — the unreadable-dataset state.
    val dir = Files.createTempDirectory("hubtornw").toString
    HubStore.writeBucketedHub(ingest(), dir, buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, HubStore.hubMetaFile), false)
    val e = intercept[IllegalStateException] { HubStore.write(ingest(), dir) }
    assert(e.getMessage.contains("writeBucketedHub"),
      "the guard must name the heal")
  }

  test("migrateToBucketed preserves rows and the next upsert bucket-prunes") {
    // Round-11 verdict item 1: the bucket-pruned probe existed only
    // for hubs BORN bucketed. Migration must be a pure layout change —
    // row-for-row equal before/after — and convert the default flat
    // hub every facade user already has.
    val flat = Files.createTempDirectory("hubm1").toString
    val mig = Files.createTempDirectory("hubm2").toString
    HubStore.write(ingest(), flat)
    HubStore.write(ingest(), mig)
    // Pre-migration history: an upsert with a cross-month move, so the
    // migrated layout starts from real (post-delete-journal) state.
    val pre = mkBatch(Seq(("C003", "2024", "3", "5")))
    HubStore.upsert(spark, pre, flat)
    HubStore.upsert(spark, pre, mig)
    HubStore.migrateToBucketed(spark, mig, buckets = Some(4))
    val f = spark.read.parquet(flat)
    val b = spark.read.parquet(mig).drop(HubStore.bucketPartCol)
    assert(f.count() == b.count())
    assert(f.select(b.columns.map(col): _*).exceptAll(b).isEmpty &&
      b.exceptAll(f.select(b.columns.map(col): _*)).isEmpty,
      "migration must be row-for-row identical to the flat hub")
    // Idempotent at the same bucket count; loud at a different one.
    HubStore.migrateToBucketed(spark, mig, buckets = Some(4))
    val e = intercept[IllegalStateException] {
      HubStore.migrateToBucketed(spark, mig, buckets = Some(8))
    }
    assert(e.getMessage.contains("already bucketed"))
    // The staging sibling is gone after a completed migration.
    assert(!new java.io.File(
      HubStore.migrationStaging(mig).toString).exists())
    // Post-migration maintenance converges with the flat control.
    val batch = mkBatch(Seq(
      ("C001", "2023", "10", "20"), ("C777", "2024", "2", "1")))
    HubStore.upsert(spark, batch, flat)
    HubStore.upsert(spark, batch, mig)
    val f2 = spark.read.parquet(flat)
    val b2 = spark.read.parquet(mig).drop(HubStore.bucketPartCol)
    assert(f2.exceptAll(b2.select(f2.columns.map(col): _*)).isEmpty &&
      b2.select(f2.columns.map(col): _*).exceptAll(f2).isEmpty,
      "upserts after migration must match the flat control")
  }

  test("migrateToBucketed heals its own delete-to-rename crash window") {
    // The staged swap's one non-atomic moment: original deleted,
    // completed staging not yet renamed. A re-run must detect the
    // marker-stamped staging and finish the rename without data.
    val dir = Files.createTempDirectory("hubm3").toString
    HubStore.write(ingest(), dir)
    val staging = HubStore.migrationStaging(dir)
    HubStore.writeBucketedHub(ingest(), staging.toString, buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true) // the crash state
    HubStore.migrateToBucketed(spark, dir, buckets = Some(4))
    assert(spark.read.parquet(dir).count() == 6)
    assert(new java.io.File(dir, HubStore.hubMetaFile).exists())
    assert(!new java.io.File(staging.toString).exists())
    // And with NO staging either, there is nothing to migrate: loud.
    val empty = Files.createTempDirectory("hubm4").toString + "/hub"
    intercept[IllegalArgumentException] {
      HubStore.migrateToBucketed(spark, empty)
    }
  }

  test("the upload flow births a bucketed hub; mart and counts match a flat flow") {
    // Round-11 verdict item 1 (second half): bucketed is the FLOW
    // default now — and the layout must be invisible to everything
    // downstream (mart documents, count store).
    val base = Files.createTempDirectory("hubm5").toString
    assert(!UploadFlow.run(spark, ingest(), s"$base/hubB", s"$base/martB",
      "2024-02-01"))
    assert(!UploadFlow.run(spark, ingest(), s"$base/hubF", s"$base/martF",
      "2024-02-01", hubLayout = HubStore.Flat))
    assert(new java.io.File(s"$base/hubB", HubStore.hubMetaFile).exists(),
      "the flow's first write must create the bucketed layout")
    assert(!new java.io.File(s"$base/hubF", HubStore.hubMetaFile).exists(),
      "hubLayout = Flat keeps the flat first write")
    // Within-spine batch (2023-10 and 2024-01 both exist in the
    // fixture) so both flows take the incremental path.
    val batch = mkBatch(Seq(
      ("C001", "2023", "10", "20"), ("C777", "2024", "1", "5")))
    assert(UploadFlow.run(spark, batch, s"$base/hubB", s"$base/martB",
      "2024-03-01"))
    assert(UploadFlow.run(spark, batch, s"$base/hubF", s"$base/martF",
      "2024-03-01", hubLayout = HubStore.Flat))
    val mb = spark.read.parquet(s"$base/martB").drop("key_bucket")
    val mf = spark.read.parquet(s"$base/martF").drop("key_bucket")
    assert(mb.exceptAll(mf).isEmpty && mf.exceptAll(mb).isEmpty,
      "mart documents must not depend on the hub layout")
    val cb = SeriesCounts.read(spark, SeriesCounts.dirFor(s"$base/martB"))
    val cf = SeriesCounts.read(spark, SeriesCounts.dirFor(s"$base/martF"))
    assert(cb.exceptAll(cf).isEmpty && cf.exceptAll(cb).isEmpty,
      "count stores must not depend on the hub layout")
  }

  test("bucket-layout null-key collapse matches the flat semantics") {
    import spark.implicits._
    // Null-key rows land in the sentinel bucket; every upsert must
    // still collapse them hub-wide to one winner, exactly like the
    // flat layout's key-null scan does.
    val raw = ClaimsEtl.canonicalize54(ClaimsEtl.withIngestSeq(Seq(
      ("C001", "2023", "10", "1"), (null, "2023", "10", "2"),
      (null, "2023", "11", "3"))
      .toDF("상담번호", "접수년", "접수월", "접수일")))
    val flat = Files.createTempDirectory("hubn1").toString
    val bkt = Files.createTempDirectory("hubn2").toString
    HubStore.write(raw, flat)
    HubStore.writeBucketedHub(raw, bkt, buckets = 4)
    val batch = mkBatch(Seq(("C002", "2024", "1", "1")))
    HubStore.upsert(spark, batch, flat)
    HubStore.upsert(spark, batch, bkt)
    def nullCount(d: String) =
      spark.read.parquet(d).filter(col("상담번호").isNull).count()
    assert(nullCount(flat) == 1 && nullCount(bkt) == 1,
      "both layouts collapse null-key rows to one winner per upsert")
    assert(spark.read.parquet(bkt)
      .filter(col("상담번호").isNull)
      .select(col(HubStore.bucketPartCol).cast("int")).collect()(0)
      .getInt(0) == -1, "null keys live in the sentinel bucket")
  }
}
