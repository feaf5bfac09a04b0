package graft.claims

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The single-writer contract made loud: a second concurrent upload
  * flow against one mart fails cleanly BEFORE touching any state, and
  * the lease marker survives everything the flow itself does —
  * including the full-rebuild static overwrite of the mart dir.
  */
class MaintenanceLeaseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fixture = ClaimsEtl.ingestCsv(spark,
    getClass.getResource("/claims_fixture.csv").getPath)

  test("a second interleaved flow fails cleanly pre-upsert") {
    val base = java.nio.file.Files.createTempDirectory("lease1").toString
    val hubPath = s"$base/hub"
    val martDir = s"$base/mart"
    val marker = MaintenanceLease.leasePathFor(martDir)
    // Writer A is mid-flow: it holds a live lease.
    MaintenanceLease.acquire(fs, marker, "writer-a",
      MaintenanceLease.defaultTtlMs)
    // Writer B's whole flow must fail up front...
    val e = intercept[IllegalStateException] {
      UploadFlow.run(spark, fixture, hubPath, martDir, "2024-02-01")
    }
    assert(e.getMessage.contains("lease"))
    // ...with NOTHING half-done: no hub, no mart, no count journals.
    assert(!new java.io.File(hubPath).exists,
      "the blocked flow must not have touched the hub")
    assert(!new java.io.File(martDir).exists,
      "the blocked flow must not have created mart state")
    assert(!new java.io.File(SeriesCounts.dirFor(martDir)).exists,
      "the blocked flow must not have journaled count partitions")
    // Writer A finishes and releases → B's retry succeeds.
    MaintenanceLease.release(fs, marker, "writer-a")
    assert(!UploadFlow.run(spark, fixture, hubPath, martDir, "2024-02-01"))
    assert(new java.io.File(martDir).listFiles()
      .exists(_.getName.startsWith("key_bucket=")))
  }

  test("the lease survives the flow's own full-rebuild static overwrite") {
    // Round-11 review: a lease INSIDE the mart dir was deleted by
    // writeBucketedMart's static overwrite — by its own holder,
    // mid-flow — so the first-build/spine-extension path (the most
    // common production event) silently dropped mutual exclusion. The
    // sibling marker must still be held when the rebuild finishes.
    val base = java.nio.file.Files.createTempDirectory("lease4").toString
    val martDir = s"$base/mart"
    val marker = MaintenanceLease.leasePathFor(martDir)
    var heldDuring = false
    MaintenanceLease.withLease(spark, martDir) {
      // The full-rebuild write wipes the mart dir completely.
      SeriesMart.writeBucketedMart(
        SeriesMart.build(fixture, "2024-02-01"), martDir, buckets = 64)
      heldDuring = fs.exists(marker)
    }
    assert(heldDuring,
      "the static overwrite must not delete the holder's own lease")
    assert(!fs.exists(marker), "released after the body")
  }

  test("a crashed holder's stale lease is taken over after the TTL") {
    val base = java.nio.file.Files.createTempDirectory("lease2").toString
    val martDir = s"$base/mart"
    val marker = MaintenanceLease.leasePathFor(martDir)
    // A holder that died 1h ago (no release) must not block forever.
    fs.mkdirs(new Path(base))
    val out = fs.create(marker, false)
    out.write((s"epoch=${System.currentTimeMillis() - 3600 * 1000}\n" +
      "owner=dead-writer\n").getBytes("UTF-8"))
    out.close()
    assert(!UploadFlow.run(spark, fixture, s"$base/hub", martDir,
      "2024-02-01"), "the takeover flow runs to completion")
    assert(!fs.exists(marker),
      "the completed flow releases its own (taken-over) lease")
  }

  test("a takeover aborts when the marker changed since the staleness check") {
    // The narrowed check-then-act window: whoever re-reads the marker
    // and finds fresh content must fail, not delete the new holder's
    // lease. Simulated by racing a fresh lease in before the second
    // acquire's staleness decision can be stale-based.
    val base = java.nio.file.Files.createTempDirectory("lease5").toString
    val marker = MaintenanceLease.leasePathFor(s"$base/mart")
    MaintenanceLease.acquire(fs, marker, "fresh-holder",
      MaintenanceLease.defaultTtlMs)
    // A fresh (non-stale) lease: any acquire must fail without
    // touching it.
    intercept[IllegalStateException] {
      MaintenanceLease.acquire(fs, marker, "latecomer", 1000L * 3600)
    }
    assert(fs.exists(marker), "the live lease survives the failed acquire")
    MaintenanceLease.release(fs, marker, "fresh-holder")
  }

  test("withLease is reentrant on one thread, exclusive across writers") {
    val base = java.nio.file.Files.createTempDirectory("lease6").toString
    val dir = s"$base/mart"
    val marker = MaintenanceLease.leasePathFor(dir)
    var innerRan = false
    MaintenanceLease.withLease(spark, dir) {
      // Round-12: the flow holds the lease and calls the now-leased
      // verbs (refresh, counts rebuild) — re-entry must run the body
      // and must NOT release the outer hold on inner exit.
      MaintenanceLease.withLease(spark, dir) { innerRan = true }
      assert(fs.exists(marker),
        "inner exit must not release the outer holder's lease")
      assert(MaintenanceLease.tryWithLease(spark, dir)(true).contains(true),
        "tryWithLease re-enters a held lease instead of reporting Busy")
    }
    assert(innerRan)
    assert(!fs.exists(marker), "outermost exit releases")
  }

  test("two flows sharing a hub serialize even with different marts") {
    // Round-11 advice: the lease was keyed on martDir only, so two
    // flows with different marts but ONE hub raced the hub upsert
    // silently. The flow now also leases the hub path.
    val base = java.nio.file.Files.createTempDirectory("lease7").toString
    val hubPath = s"$base/hub"
    val martB = s"$base/martB"
    val hubMarker = MaintenanceLease.leasePathFor(hubPath)
    MaintenanceLease.acquire(fs, hubMarker, "flow-a-on-mart-a",
      MaintenanceLease.defaultTtlMs)
    val e = intercept[IllegalStateException] {
      UploadFlow.run(spark, fixture, hubPath, martB, "2024-02-01")
    }
    assert(e.getMessage.contains("lease"))
    assert(!new java.io.File(hubPath).exists,
      "the blocked flow must not have touched the shared hub")
    assert(!new java.io.File(martB).exists,
      "the loser must have released/never-created its mart state")
    MaintenanceLease.release(fs, hubMarker, "flow-a-on-mart-a")
    assert(!UploadFlow.run(spark, fixture, hubPath, martB, "2024-02-01"))
  }

  test("direct maintenance verbs fail loudly against a held lease") {
    // Round-11 verdict item 4: only UploadFlow.run was leased — direct
    // callers of the refresh/rebuild/bucketed-write verbs could still
    // interleave with a running flow silently.
    val base = java.nio.file.Files.createTempDirectory("lease8").toString
    val hubPath = s"$base/hub"
    val martDir = s"$base/mart"
    val countsDir = SeriesCounts.dirFor(martDir)
    assert(!UploadFlow.run(spark, fixture, hubPath, martDir, "2024-02-01"))
    val hub = HubStore.read(spark, hubPath)
    val martMarker = MaintenanceLease.leasePathFor(martDir)
    MaintenanceLease.acquire(fs, martMarker, "live-flow",
      MaintenanceLease.defaultTtlMs)
    intercept[IllegalStateException] {
      SeriesMart.refreshFromCounts(spark,
        SeriesCounts.read(spark, countsDir), Set("PLANT_A_CAT2_X_MAJOR_P"),
        "2024-03-01", martDir)
    }
    intercept[IllegalStateException] {
      SeriesCounts.rebuild(spark, hub, countsDir)
    }
    intercept[IllegalStateException] {
      SeriesCounts.applyPending(spark, hub, countsDir)
    }
    MaintenanceLease.release(fs, martMarker, "live-flow")
    val hubMarker = MaintenanceLease.leasePathFor(hubPath)
    MaintenanceLease.acquire(fs, hubMarker, "live-flow",
      MaintenanceLease.defaultTtlMs)
    intercept[IllegalStateException] {
      HubStore.writeBucketedHub(fixture, hubPath, 4)
    }
    intercept[IllegalStateException] {
      HubStore.migrateToBucketed(spark, hubPath)
    }
    MaintenanceLease.release(fs, hubMarker, "live-flow")
  }

  test("withLease releases on failure; release ignores a foreign lease") {
    val base = java.nio.file.Files.createTempDirectory("lease3").toString
    val dir = s"$base/mart"
    val marker = MaintenanceLease.leasePathFor(dir)
    intercept[RuntimeException] {
      MaintenanceLease.withLease(spark, dir) {
        throw new RuntimeException("body failed")
      }
    }
    assert(!fs.exists(marker),
      "a failing body must still release the lease")
    // A release by a writer that LOST its lease to takeover must not
    // delete the new holder's marker.
    MaintenanceLease.acquire(fs, marker, "new-holder",
      MaintenanceLease.defaultTtlMs)
    MaintenanceLease.release(fs, marker, "old-holder")
    assert(fs.exists(marker),
      "a foreign release must not delete the live holder's lease")
    MaintenanceLease.release(fs, marker, "new-holder")
  }
}
