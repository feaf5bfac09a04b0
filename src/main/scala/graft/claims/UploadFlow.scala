package graft.claims

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference upload page's save sequence as one reusable flow
  * (ref: pages/1_데이터_업로드.py:107-117 — preprocess → hub save →
  * series regeneration), shared by the interactive facade
  * (`graft.api.ClaimAnalysisEngine.uploadBatch`) and the streaming
  * ingester (`graft.streaming.StreamingIngest`) so the two ingest
  * paths cannot drift:
  *
  *  1. upsert the hub (partition-scoped, crash-journaled). Its probe
  *     collects, with the partition tuples, the mart keys of the batch
  *     rows and of the hub rows the batch's claims are filed under NOW
  *     (a key move's old location is unknowable after the merge); its
  *     pre-commit hooks journal the affected partitions into the count
  *     store's dir (`onAffected`) and those prior mart keys into the
  *     mart dir ([[SeriesMart.journalTouchedKeys]], via
  *     [[HubStore.KeyProbe]]), so a crash between the hub commit and
  *     the completed refresh is recoverable by replay;
  *  2. bring the [[SeriesCounts]] store up to date by replacing
  *     exactly the journaled partitions from the merged hub
  *     (partition-pruned, batch-sized — never a full hub pass);
  *  3. refresh the bucketed mart incrementally from the counts
  *     ([[SeriesMart.refreshFromCounts]]) for the probed keys — the
  *     refresh reads no hub rows, also for the spine-extending first
  *     upload of a month, which reassembles every document from count
  *     rows.
  *
  * Replaying the same batch after a crash at ANY point is idempotent:
  * the upsert's keyed merge converges, the count replacement derives
  * from hub state (journaled partitions re-derive, never
  * double-apply), and the refresh regenerates from the counts with
  * the journaled keys unioned in.
  *
  * The count store is maintained ONLY through this flow (and
  * [[SeriesCounts.rebuild]]): writing the hub around it
  * (`HubStore.write`/`upsert` directly) leaves counts stale until the
  * next [[SeriesCounts.rebuild]] — the same single-maintenance-path
  * contract the bucketed mart itself has always had.
  */
object UploadFlow {

  /** Returns true when the mart refresh took the incremental path
    * (false = a guard forced the full, counts-bounded rebuild; see
    * [[SeriesMart.refreshFromCounts]]).
    *
    * Key-bucket counts: `buckets` (mart) and `hubLayout` (the hub's
    * first write) default to counts sized from the data
    * ([[HubStore.bucketsFor]]); an explicit count pins the layout.
    * Stores that exist keep the count their marker records.
    */
  def run(spark: SparkSession, prepared: DataFrame, hubPath: String,
      martDir: String, asOf: String, buckets: Option[Int] = None,
      leaseTtlMs: Long = MaintenanceLease.defaultTtlMs,
      hubLayout: HubStore.FirstWrite = HubStore.Bucketed()): Boolean =
    // Single-writer lease over the whole flow ([[MaintenanceLease]]):
    // a second concurrent flow against the same mart fails loudly
    // HERE — before its probe, journal writes, or hub commit — instead
    // of corrupting the non-table-format layouts silently. A crashed
    // holder is taken over after `leaseTtlMs`; every crash window
    // inside the flow stays journaled and replayable independent of
    // the lease. The TTL is the crash-restart availability dial: a
    // process that dies holding the lease blocks the next flow for at
    // most the TTL — deployments that restart fast (the streaming
    // ingester) pass a TTL just above their longest healthy batch.
    //
    // TWO leases, mart then hub (round-11 advice): the mart lease
    // alone let two flows pointed at DIFFERENT marts but the SAME hub
    // (a legal call shape) race the hub upsert and each other's
    // delete-journal heal silently. Acquisition order is fixed
    // (mart, then hub) and acquisition is try-fail, never blocking —
    // the loser of a hub race throws and its finally releases the mart
    // lease, so no deadlock is possible. Reentrant per thread: the
    // verbs the flow calls (refresh, counts, bucketed writes) take the
    // same leases and simply re-enter.
    MaintenanceLease.withLease(spark, martDir, leaseTtlMs) {
      MaintenanceLease.withLease(spark, hubPath, leaseTtlMs) {
        runUnlocked(spark, prepared, hubPath, martDir, asOf, buckets,
          hubLayout)
      }
    }

  private def runUnlocked(spark: SparkSession, prepared: DataFrame,
      hubPath: String, martDir: String, asOf: String,
      buckets: Option[Int], hubLayout: HubStore.FirstWrite): Boolean = {

    val countsDir = SeriesCounts.dirFor(martDir)
    // The batch lineage (CSV read + canonicalize + preprocess shuffle)
    // is read by each of the upsert's jobs (the first write's included)
    // — pin it once. Transient: the frame dies with this call; a retry
    // replays the whole flow.
    val batch = graft.Checkpoint.pinTransient(prepared)
    try {
      var touched = Set.empty[String]
      // The flow's FIRST hub write creates the key-hash BUCKETED
      // layout by default (round-11 verdict: the flat default paid a
      // full narrow key-column scan per upload in the probe; the
      // bucket-pruned path existed only for hubs born bucketed).
      // Existing hubs keep their layout — the upsert detects it — and
      // `HubStore.migrateToBucketed` converts a flat one in place.
      // `hubLayout = HubStore.Flat` opts a flow back into the flat
      // first-write. A bucketed hub reports three-level (year, month,
      // bucket) tuples; journalParts itself truncates to the count
      // store's (year, month) grain, so its replacement re-derives
      // whole touched months.
      HubStore.upsert(spark, batch, hubPath,
        onAffected = parts =>
          SeriesCounts.journalParts(spark, countsDir, parts),
        firstWrite = hubLayout,
        keyProbe = Some(HubStore.KeyProbe(SeriesMart.martKey,
          (prior, batchKeys) => {
            SeriesMart.journalTouchedKeys(spark, martDir, prior)
            touched = prior ++ batchKeys
          })))
      SeriesCounts.applyPending(spark, HubStore.read(spark, hubPath),
        countsDir)
      SeriesMart.refreshFromCounts(spark,
        SeriesCounts.read(spark, countsDir), touched, asOf, martDir,
        buckets)
    } finally graft.Checkpoint.release(batch)
  }
}
