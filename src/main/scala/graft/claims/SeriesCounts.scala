package graft.claims

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Child-grain monthly count store — the maintained aggregate that
  * makes mart refresh O(delta) instead of O(hub) (the reference
  * intended per-series maintenance, docs/project_master.md:24, and
  * never achieved it; its implementation regenerates every document
  * from every hub row per upload, core/storage.py:504+).
  *
  * One row per (플랜트, 제품범주2, 대분류, 중분류, ym) within each hub
  * partition, carrying everything [[SeriesMart]] document assembly
  * needs:
  *  - `n_all`   — rows (history counts ALL rows)
  *  - `n_valid` — Lag_Valid rows (stats series; also the avg-lag
  *                denominator, since Lag_Valid implies Lag_Days is
  *                present and ≥ 0 — ClaimsEtl.preprocess step 5)
  *  - `sum_lag` — Σ Lag_Days over Lag_Valid rows (avg-lag numerator;
  *                datediff is an INT, so the long sum is exact and
  *                `sum_lag / n_valid` reproduces Spark's
  *                avg(when(valid, lag)) bit-for-bit)
  * Rows with a null receipt month (`ym` null) are kept: they assert
  * key existence (an all-undated key still yields an all-zero-history
  * document) and carry lag sums, but never enter the month spine.
  *
  * LAYOUT: hive-partitioned by the hub's own partition columns
  * (접수년/접수월). That makes maintenance a pure partition
  * replacement: an upsert rewrites hub partitions P, so
  * `counts[P] := aggregate(hub[P])` — recomputed from the merged
  * truth, never incremented — and every other count partition keeps
  * its bytes. Replacement is idempotent under replay (it derives from
  * hub state, not from a delta that could double-apply), which is the
  * whole crash story: the affected set is journaled durably BEFORE
  * the hub commit ([[journalParts]], written by [[UploadFlow]] from
  * the upsert's `onAffected` hook) and [[applyPending]] replays every
  * journaled generation against the CURRENT hub after it.
  *
  * 100 TB posture: the store is #child-grains × #months rows (orders
  * of magnitude under the hub); each upload's replacement reads only
  * the touched hub partitions, column-pruned to the seven count
  * inputs; the mart refresh ([[SeriesMart.refreshFromCounts]]) then
  * reads count rows only.
  */
object SeriesCounts {

  import ClaimsSchema.{partitionCols, receiptDateCol, lagValidCol, lagDaysCol}

  private[claims] val grainCols =
    Seq("플랜트", "제품범주2", "대분류", "중분류")

  /** The store's schema as a read sees it: the [[aggregate]] columns,
    * with the partition columns last, where the parquet reader puts
    * them. Fixed by [[aggregate]] (grain cast to string), so [[read]]
    * passes it instead of paying a schema-inference job.
    */
  private[claims] val schema: StructType = StructType(
    (grainCols :+ "ym").map(StructField(_, StringType)) ++
      Seq("n_all", "n_valid", "sum_lag").map(StructField(_, LongType)) ++
      partitionCols.map(StructField(_, IntegerType)))

  /** Store-valid marker: stamped after a full [[rebuild]] commits.
    * Absence means unmaintained/foreign state — consumers rebuild.
    */
  private[claims] val metaFile = "_graft_counts_meta"

  /** Pending-replacement journal (generation prefix): `y,m` lines
    * naming hub partitions whose count partitions must be re-derived.
    */
  private[claims] val pendingPartsFile = "_graft_counts_pending_parts"

  /** Vacated count-partition deletes in flight ([[DeleteJournal]]). */
  private[claims] val pendingDeletesFile = "_graft_counts_pending_deletes"

  /** The count store lives BESIDE the mart (`<martDir>_counts`), not
    * inside it — underscore-prefixed children are invisible to parquet
    * readers but an underscore-rooted DATASET read is filter-dependent,
    * and a sibling keeps both layouts unambiguous.
    */
  def dirFor(martDir: String): String =
    martDir.stripSuffix("/") + "_counts"

  /** Inverse of [[dirFor]] — the mart dir whose [[MaintenanceLease]]
    * serializes maintenance of this count store (the flow holds the
    * MART lease, so count writers must key on the mart to re-enter
    * it). The mapping is purely syntactic: ANY dir ending in
    * `_counts` leases its stripped prefix — a standalone store that
    * merely happens to share that suffix next to an unrelated
    * same-prefix mart would spuriously exclude against it (fail-safe:
    * a loud extra exclusion, never a missed one). A dir not ending in
    * `_counts` leases on itself.
    */
  private def leaseDirFor(countsDir: String): String =
    countsDir.stripSuffix("/").stripSuffix("_counts") match {
      case "" => countsDir
      case mart => mart
    }

  /** The count rows for a claims frame — exact, one narrow aggregation
    * (Catalyst prunes the input scan to grain + the three lag/date
    * inputs). Input must be preprocessed (ClaimsEtl) claims, whose
    * grain columns are already strings (the cast is then a no-op).
    */
  def aggregate(claims: DataFrame): DataFrame =
    HubStore.prepPartitionCols(claims)
      .withColumn("ym", date_format(col(receiptDateCol), "yyyy-MM"))
      .groupBy(partitionCols.map(col) ++
        grainCols.map(c => col(c).cast("string").as(c)) :+ col("ym"): _*)
      .agg(
        count(lit(1)).as("n_all"),
        sum(when(col(lagValidCol), 1L).otherwise(0L)).as("n_valid"),
        coalesce(sum(when(col(lagValidCol),
          col(lagDaysCol).cast("long"))), lit(0L)).as("sum_lag"))

  /** Full (re)build from the hub — the bootstrap / self-heal path: one
    * narrow hub scan, static overwrite, meta stamped after the data
    * commits (a crash in between leaves no marker → rebuild again).
    * Clears both journals: everything they recorded is subsumed.
    */
  def rebuild(spark: SparkSession, hub: DataFrame, dir: String): Unit =
   // Leased on the owning MART dir (round-11 advice: an unleased
   // rebuild racing a live UploadFlow could static-overwrite + clear a
   // pending-parts generation the flow's onAffected hook just wrote,
   // leaving the store silently stale after the flow's commit). The
   // flow's own applyPending→rebuild bootstrap re-enters.
   MaintenanceLease.withLease(spark, leaseDirFor(dir)) {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    aggregate(hub)
      .write
      .option("partitionOverwriteMode", "static")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(dir)
    GenerationJournal.clear(fs, root, pendingPartsFile,
      GenerationJournal.readAll(fs, root, pendingPartsFile)._2)
    if (fs.exists(new Path(root, pendingDeletesFile)))
      fs.delete(new Path(root, pendingDeletesFile), false)
    DeleteJournal.writeMarkerAtomic(fs, root, metaFile, "v=1\n")
   }

  def isValid(spark: SparkSession, dir: String): Boolean = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(root, metaFile))
  }

  /** Read the store (healing a crashed replacement's unfinished
    * vacated-partition deletes first). Caller is expected to have run
    * [[applyPending]] in the same flow; a direct read of a store with
    * outstanding journals sees the pre-replacement counts.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeleteJournal.heal(fs, root, pendingDeletesFile)
    spark.read.schema(schema).parquet(dir)
  }

  /** Durably record partitions an in-flight upsert is about to change
    * — written BEFORE the hub commit so a crash between the commit and
    * the count replacement is healed by the next [[applyPending]].
    *
    * Tuples longer than the store's (접수년, 접수월) grain — a
    * BUCKETED hub's (year, month, bucket) triples wired straight from
    * `upsert`'s `onAffected` — are truncated HERE (round-11 review:
    * truncating only in UploadFlow let a direct caller journal
    * three-field lines that replay would have had to reject, silently
    * losing the crash heal). Shorter tuples are a caller bug and
    * throw before anything is written.
    */
  def journalParts(spark: SparkSession, dir: String,
      parts: Set[Seq[Int]]): Unit = {
    val grain = partitionCols.length
    parts.foreach(vs => require(vs.length >= grain,
      s"partition tuple ${vs.mkString(",")} shorter than $partitionCols"))
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GenerationJournal.append(fs, root, pendingPartsFile,
      parts.map(_.take(grain)).toSeq.map(_.mkString(",")).sorted.distinct)
  }

  /** Bring the store up to date with the (post-upsert) hub: replace
    * the count partitions named by every journaled generation from the
    * hub's current content, delete the ones the hub no longer has rows
    * for, and clear exactly the generations read. An invalid/absent
    * store rebuilds wholesale instead (bootstrap and the migration
    * path for hubs that predate the count store).
    *
    * Idempotent under replay at every point: replacement derives from
    * hub state; re-running after any crash converges.
    */
  def applyPending(spark: SparkSession, hub: DataFrame, dir: String): Unit =
   // Leased like [[rebuild]] — a direct replay is a store writer too.
   MaintenanceLease.withLease(spark, leaseDirFor(dir)) {
    if (!isValid(spark, dir)) { rebuild(spark, hub, dir); return }
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeleteJournal.heal(fs, root, pendingDeletesFile)
    val (lines, gens) = GenerationJournal.readAll(fs, root, pendingPartsFile)
    // STRICT parse: a line this replay cannot understand means the
    // journal protocol was violated (journalParts normalizes arity at
    // write time) — failing loudly preserves the generations for a
    // fixed reader, where dropping them would silently discard the
    // crash heal the journal exists for (round-11 review).
    val parts: Set[Seq[Int]] = lines
      .map { l =>
        val vs = l.split(",", -1).toSeq
        require(vs.length == partitionCols.length &&
          vs.forall(_.matches("-?\\d+")),
          s"unparseable count-journal line '$l' under $root — refusing " +
            "to clear the journal; fix the generation files or rebuild " +
            "the store")
        vs.map(_.toInt)
      }.toSet
    if (parts.isEmpty) {
      GenerationJournal.clear(fs, root, pendingPartsFile, gens); return
    }
    // Replacement rows: re-aggregate ONLY the journaled hub partitions
    // (partition-pruned scan, PlanAuditSpec pins it). Dynamic
    // overwrite rewrites exactly the partitions with surviving rows;
    // partitions the hub vacated are deleted through the crash-safe
    // journal, mirroring HubStore.upsert one level down.
    val replacement = aggregate(
      hub.filter(HubStore.partitionPredicate(parts)))
    replacement
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(dir)
    // Surviving partitions from the REPLACEMENT frame, not a read-back
    // of the store: the vacated partitions' old files are still on
    // disk at this point and would masquerade as survivors.
    val surviving = replacement
      .select(partitionCols.map(c => col(c).cast("int")): _*)
      .distinct().collect()
      .map(r => partitionCols.indices.map(r.getInt)).toSet
    val vacated = (parts -- surviving).toSeq
      .map(vs => partitionCols.zip(vs)
        .map { case (c, v) => s"$c=$v" }.mkString("/")).sorted
    DeleteJournal.journalThenDelete(fs, root, pendingDeletesFile, vacated)
    GenerationJournal.clear(fs, root, pendingPartsFile, gens)
   }
}
