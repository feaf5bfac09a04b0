package graft.claims

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned-parquet claims hub with upsert-by-key merge
  * (ref: core/storage.py:19-130, 133-271).
  *
  * Layout decisions vs the reference (SURVEY.md §1.3): hive-style
  * `접수년=YYYY/접수월=MM/` partitions everywhere (the reference writes
  * bare `YYYY/MM/` but its own readers prefer hive), null partition
  * values → 0 (ref: core/storage.py:49-50), and the merge orders rows
  * by an explicit ingest sequence instead of pandas' physical row order.
  *
  * Scale posture: dynamic partition overwrite rewrites only touched
  * months — at 100 TB an incremental upload touches a handful of
  * partitions, not the whole hub; reads prune on the partition columns.
  * Hubs the [[UploadFlow]] births add a third `_key_bucket=` level whose
  * count is sized from the first batch ([[bucketsFor]]): one bucket per
  * month until a month outgrows one scan split.
  */
object HubStore {

  import ClaimsSchema._

  /** S3 — partitioned write (ref: core/storage.py:19-72). The dynamic
    * overwrite mode is scoped to THIS writer (an `.option`, not the
    * session conf a previous cut mutated — which silently changed the
    * overwrite semantics of every other partitioned write in the
    * process for the rest of the session).
    */
  def write(df: DataFrame, path: String): Unit =
   // Leased like every other hub writer (round-12 self-review closed
   // the last gap): a direct flat write racing a running UploadFlow's
   // merge window replaced month partitions underneath it silently.
   // upsert's first-write path re-enters.
   MaintenanceLease.withLease(df.sparkSession, path) {
    // Loud layout guard: a two-level dynamic write into a bucketed
    // (three-level) layout would interleave partition depths and make
    // the whole dataset unreadable — refuse up front instead.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (readHubMeta(fs, root).isDefined)
      throw new IllegalStateException(
        s"$path carries the bucketed-hub layout marker ($hubMetaFile); " +
          "use upsert (layout-detecting) or writeBucketedHub, not the " +
          "flat write")
    // Torn-bucketed guard (round-11 advice): a writeBucketedHub that
    // crashed after committing `_key_bucket=` dirs but before stamping
    // the marker leaves bucket dirs with NO marker — the marker check
    // above is blind to it, and a flat write would interleave two-level
    // partitions into the torn layout. Probe the directory names
    // (#years × #months listings, driver-side, the same cost any read's
    // partition discovery pays) and name the heal.
    if (hasBucketDirs(fs, root))
      throw new IllegalStateException(
        s"$path holds $bucketPartCol= partition dirs without the " +
          s"$hubMetaFile marker — a writeBucketedHub crashed mid-write; " +
          "re-run writeBucketedHub on this path to restore the layout")
    prepPartitionCols(df)
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)
   }

  /** Partition column hygiene: int-typed, nulls → 0
    * (ref: core/storage.py:49-50). Shared with [[SeriesCounts]], whose
    * layout mirrors the hub's partitioning so count partitions can be
    * replaced one-for-one with hub partitions.
    */
  private[claims] def prepPartitionCols(df: DataFrame): DataFrame =
    partitionCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, coalesce(expr(s"try_cast(`$c` AS INT)"), lit(0)))
    }

  /** S4/J5/P4 — merge-then-write upsert: existing hub ∪ new batch with
    * bidirectional schema alignment, dedup by claim id keeping the
    * newest (new batch wins over hub; within a batch the highest ingest
    * sequence wins) (ref: core/storage.py:75-130).
    *
    * `onAffected` is invoked with the exact partition-value tuples
    * (in [[ClaimsSchema.partitionCols]] order) this upsert will
    * rewrite, vacate, or create — AFTER the probe, BEFORE the
    * overwrite commits. [[UploadFlow]] journals the set durably there
    * so the [[SeriesCounts]] store can replace exactly those
    * partitions after the commit, and a crash in between is healed by
    * replaying the journal against the merged hub. A throwing callback
    * aborts the upsert with the hub untouched.
    *
    * `keyProbe`: a caller key over claim rows (the mart key, for
    * [[UploadFlow]]) that the probe collects alongside the partition
    * tuples, so the caller learns which of its keys the upsert touches
    * without scanning the hub itself. Its hook runs after
    * `onAffected`, before the commit; see [[KeyProbe]].
    *
    * `firstWrite`: the layout created when the path holds no hub yet.
    * [[Bucketed]] creates the key-hash bucketed layout
    * ([[writeBucketedHub]]) — how [[UploadFlow]] makes bucketed the
    * default for hubs it births without changing the behavior of
    * direct upsert callers ([[Flat]], the default, keeps the flat first
    * write every existing spec pins). Ignored when the hub exists —
    * layout comes from the marker then.
    */
  def upsert(spark: SparkSession, incoming: DataFrame, path: String,
      onAffected: Set[Seq[Int]] => Unit = _ => (),
      firstWrite: FirstWrite = Flat,
      keyProbe: Option[KeyProbe] = None): Unit =
   // Leased on the hub path (round-12 self-review): every other
   // maintenance verb serializes against a running UploadFlow, but a
   // DIRECT upsert caller could still interleave with the flow's
   // journal heal/sweep on the same hub silently. The flow itself
   // (which takes the hub lease up front) re-enters.
   MaintenanceLease.withLease(spark, path) {
    // Without a caller key the probes carry a null one: same jobs.
    val probeKey = keyProbe.fold(lit(null).cast("string"))(_.key)
    if (exists(spark, path)) {
      // PARTITION-SCOPED rewrite. The correctness hazard (reproduced in
      // the round-9 review) is a keyed update MOVING a claim across
      // month partitions: plain dynamic overwrite never touches the
      // partition the claim vacated, so its stale files survive and
      // the hub holds two versions. The round-9 fix — a full static
      // rewrite, the reference's literal read-merge-rewrite
      // (core/storage.py:75-130) — was correct but O(entire hub) per
      // incremental batch. Only partitions that can CHANGE need
      // rewriting, and that set is knowable up front:
      //   oldParts — partitions currently holding any incoming claim
      //     key (these may shrink or vacate), found by a broadcast
      //     semi-join that Catalyst prunes to (key, partition cols,
      //     and the columns of a `keyProbe` key) — a narrow scan, not
      //     a full-width read;
      //   newParts — partitions the prepped incoming rows land in
      //     (these gain or replace rows).
      // Rows outside oldParts ∪ newParts have keys absent from the
      // batch and keep their bytes; the merge therefore reads ONLY the
      // affected partitions (partition-pruned), dynamic overwrite
      // rewrites exactly the non-empty ones, and partitions the merge
      // emptied are deleted explicitly — closing the stale-file hole
      // at O(touched partitions) instead of O(dataset) I/O.
      //
      // Crash safety (review r10): the deletes run AFTER the overwrite
      // commits (deleting first would lose the rows being moved if the
      // write never lands), and the vacated list is journaled to a
      // marker file between the commit and the deletes — a crashed
      // upsert's unfinished deletes are healed by the next call
      // ([[healPendingDeletes]]). The residual window (a crash between
      // the job commit and the tiny marker create) can leave stale
      // vacated files, but re-running the same batch — the natural
      // retry — is idempotent and rediscovers them via the key
      // semi-join. (The previous full static rewrite was WORSE here:
      // static overwrite clears the whole dataset before the job
      // commits, so a mid-job crash lost the entire hub, not a
      // partition's staleness. True atomic commits need a table
      // format — Delta/Iceberg — above this layout.)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      DeleteJournal.heal(fs, root, pendingDeletesFile)
      // Layout detection: a [[writeBucketedHub]] layout carries a meta
      // marker naming its key-hash bucket count. The scoped upsert then
      // works at (접수년, 접수월, _key_bucket) grain — the probe prunes
      // to the batch keys' BUCKET partitions instead of scanning the
      // whole hub's key column, and byte-identity extends to untouched
      // buckets within a touched month.
      val hubBuckets = readHubMeta(fs, root)
      val layoutCols = partitionCols ++ hubBuckets.map(_ => bucketPartCol)
      val hub = read(spark, path)
      // Torn-layout guard (round-11 review): writeBucketedHub stamps
      // its marker AFTER the static overwrite commits, so a crash
      // mid-write leaves three-level `_key_bucket=` dirs with NO
      // marker. Detecting flat by marker absence alone would then
      // interleave two-level writes into the torn layout — the
      // unreadable-dataset state. The inferred schema is the ground
      // truth: a mismatch in either direction fails loudly with the
      // heal (re-run writeBucketedHub) named.
      if (hub.columns.contains(bucketPartCol) != hubBuckets.isDefined)
        throw new IllegalStateException(
          s"$path layout/marker mismatch: bucket partition dirs " +
            s"${if (hubBuckets.isDefined) "absent" else "present"} but " +
            s"$hubMetaFile ${if (hubBuckets.isDefined) "present" else "absent"}" +
            " — a writeBucketedHub crashed mid-write; re-run " +
            "writeBucketedHub on this path to restore the layout")
      // The batch is consumed by THREE jobs below (the new-side probe,
      // the old-side probe's broadcast key set, the merge itself); a
      // caller's lineage often carries a shuffle (preprocess keyed
      // dedup), so pin the delta-sized frame once instead of
      // recomputing it per job. TRANSIENT pin: the frame lives only
      // inside this call, so the session's reliable policy would write
      // a permanent batch copy per upsert for no HA gain (the caller's
      // retry re-runs the call). A caller that already pinned
      // (UploadFlow pins the batch for the whole upsert) is
      // respected: no second block copy, and the finally must NOT
      // release a frame this call does not own — the caller still
      // reads it after we return.
      val callerPinned = graft.Checkpoint.isPinned(incoming)
      val inc =
        if (callerPinned) incoming
        else graft.Checkpoint.pinTransient(incoming)
      // Both pins are released in the finally: a failing probe or
      // merge job must not strand batch-sized blocks in executor
      // storage on a long-lived session (a streaming caller retries
      // the same batch every trigger), and once the write and the
      // deletes are done nothing reads the merged frame again —
      // deterministic release beats waiting for GC + ContextCleaner.
      var merged: Option[DataFrame] = None
      try {
        val incPrepped = hubBuckets.foldLeft(prepPartitionCols(inc))(
          (df, b) => withBucketCol(df, b))
        // newParts — the partitions the prepped incoming rows land in
        // (these gain or replace rows) — with the caller's key. On the
        // bucketed layout the tuples also name the batch keys' buckets
        // (the SAME expression the writer uses), which prune the
        // old-side probe: no separate bucket-set job.
        val newRows = collectPartKeys(incPrepped, layoutCols, probeKey)
        val newParts = newRows.map(_._1).toSet
        val keys = inc.filter(col(keyCol).isNotNull)
          .select(col(keyCol)).distinct()
        val oldRows = collectPartKeys(
          oldLocationRows(hub, keys, hubBuckets.map(_ =>
            newParts.map(_.last.toLong) - nullBucket.toLong)),
          layoutCols, probeKey)
        val oldParts = oldRows.map(_._1).toSet
        val affected = oldParts ++ newParts
        onAffected(affected)
        keyProbe.foreach(_.onKeys(oldRows.map(_._2).toSet,
          newRows.map(_._2).toSet))
        val affectedPred = partitionPredicate(affected, layoutCols)
        // The merged frame is pinned ([[graft.Checkpoint.pin]], the
        // session policy: under a reliable session a mid-write executor
        // loss re-reads checkpoint files instead of failing the job) so
        // its lineage no longer reads the path being overwritten —
        // which also makes the vacated-set computation below a cheap
        // re-read of the pinned blocks, not a recompute.
        // For the bucketed layout the bucket column is RECOMPUTED from
        // the merged keys (incoming rows carry none, and a winner's
        // bucket is a pure function of its key), never trusted from
        // the union.
        val mergedRaw = merge(hub.filter(affectedPred), inc)
          .drop(ingestSeqCol, batchCol)
        val m = graft.Checkpoint.pin(
          hubBuckets.foldLeft(prepPartitionCols(
            mergedRaw.drop(bucketPartCol)))((df, b) => withBucketCol(df, b)))
        merged = Some(m)
        // Vacated partitions: affected but with no surviving merged
        // rows (dynamic overwrite never visits them). Known BEFORE the
        // write.
        val surviving = collectPartKeys(m, layoutCols, lit(null).cast("string"))
          .map(_._1)
        val vacated = (affected -- surviving).toSeq
          .map(vs => layoutCols.zip(vs)
            .map { case (c, v) => s"$c=$v" }.mkString("/"))
        m.write
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(layoutCols: _*)
          .mode("overwrite")
          .parquet(path)
        DeleteJournal.journalThenDelete(fs, root, pendingDeletesFile, vacated)
      } finally {
        if (!callerPinned) graft.Checkpoint.release(inc)
        merged.foreach(graft.Checkpoint.release)
      }
    } else {
      // First write: every partition of the batch is "affected" (it is
      // being created) — the callback still fires so count maintenance
      // sees the initial load through the same channel as every
      // incremental one. The same collect carries each month's row
      // count, which sizes a bucketed layout without another job, and
      // the caller's key (there are no prior keys: no hub yet).
      val rows = incoming.drop(ingestSeqCol)
      val monthKeys = prepPartitionCols(rows)
        .groupBy(partitionCols.map(c => col(c).cast("int")) :+
          probeKey.as("__key"): _*)
        .count().collect()
      val monthRows = monthKeys.groupMapReduce[Seq[Int], Long](
        r => partitionCols.indices.map(r.getInt))(
        _.getLong(partitionCols.size + 1))(_ + _)
      onAffected(monthRows.keySet)
      keyProbe.foreach(_.onKeys(Set.empty,
        monthKeys.map(_.getString(partitionCols.size)).toSet))
      firstWrite match {
        case Bucketed(b) =>
          val largestMonth = monthRows.values.maxOption.getOrElse(0L)
          writeBucketedHub(rows, path, b.getOrElse(bucketsFor(spark,
            largestMonth * rows.schema.defaultSize)))
        case Flat => write(rows, path)
      }
    }
   }

  /** OR-of-ANDs partition predicate for an explicit partition-value
    * set — matches only listed partitions, so Catalyst prunes the scan
    * to exactly those directories. Shared by the upsert's scoped merge
    * and the count store's replacement read (which always works at the
    * two-level year/month grain; a bucketed hub's count replacement
    * reads whole months, so `parts` tuples longer than `cols` would be
    * a caller bug — hence the exact-arity zip via require).
    */
  private[graft] def partitionPredicate(parts: Set[Seq[Int]],
      cols: Seq[String] = partitionCols): org.apache.spark.sql.Column = {
    parts.foreach(vs => require(vs.length == cols.length,
      s"partition tuple ${vs.mkString(",")} does not match $cols"))
    parts
      .map(vs => cols.map(col).zip(vs)
        .map { case (c, v) => c === v }
        .reduce[org.apache.spark.sql.Column](_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))
  }

  // ---- key-hash bucketed hub layout (round-11: bucket-pruned upsert) ----

  /** Third partition level of the bucketed hub layout. Named with a
    * leading underscore-free form is NOT possible here — partition
    * DIRECTORY names must be readable (`_key_bucket=7`), and Spark's
    * hidden-file filter applies to file names, not partition dir
    * names, so the underscore prefix is safe and keeps the column
    * visibly synthetic in schemas.
    */
  private[graft] val bucketPartCol = "_key_bucket"

  /** Bucket value for null-key rows (xxhash64 of null is null, which
    * would otherwise land in the HIVE default partition): a sentinel
    * that makes the null-collapse scope a pure partition filter.
    */
  private[claims] val nullBucket = -1

  /** Layout marker: bucket count the hub was written with. Its
    * presence is what [[upsert]] detects; hand-removing it degrades
    * every later upsert to... nothing good — the three-level dirs
    * would be merged with two-level writes — so it is written
    * temp-then-rename and never deleted by this object.
    */
  private[claims] val hubMetaFile = "_graft_hub_meta"

  private[claims] def withBucketCol(df: DataFrame, buckets: Int): DataFrame =
    // EXPLICIT null branch: Spark hash functions are null-tolerant
    // (xxhash64(null) is the seed hash, NOT null), so a coalesce-style
    // sentinel would silently file null keys into a real bucket and
    // the null-collapse scope's sentinel filter would miss them.
    df.withColumn(bucketPartCol,
      when(col(keyCol).isNull, lit(nullBucket.toLong))
        .otherwise(pmod(xxhash64(col(keyCol)), lit(buckets))))

  /** Layout of the hub an [[upsert]] creates on an empty path. */
  sealed trait FirstWrite

  /** Two-level year/month partitions. */
  case object Flat extends FirstWrite

  /** Key-hash bucketed ([[writeBucketedHub]]); `buckets = None` sizes
    * the count from the batch's largest month ([[bucketsFor]]).
    */
  final case class Bucketed(buckets: Option[Int] = None) extends FirstWrite

  /** Key-bucket count for a store whose bucketed unit — one month of
    * the hub, the whole mart — holds about `bytes`: the smallest power
    * of two that keeps one bucket at or under one scan split
    * (`spark.sql.files.maxPartitionBytes`). Finer buckets save no scan
    * work, since a reader plans at least one task per file anyway, and
    * each one adds a file to every write and a directory to every
    * listing. Driver-side arithmetic only; callers pass an estimate
    * they already hold.
    */
  private[claims] def bucketsFor(spark: SparkSession, bytes: Long): Int = {
    val split = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    var b = 1
    while (b < (1 << 20) && bytes > split * b) b *= 2
    b
  }

  /** Write the hub in the key-hash bucketed layout:
    * `접수년=Y/접수월=M/_key_bucket=B/` with B = xxhash64(상담번호) mod
    * `buckets`. Everything the flat layout gives (month pruning for
    * reads, dynamic month overwrite) is preserved — the extra level
    * buys the upsert a bucket-pruned key probe and bucket-granular
    * rewrites: at 100 TB a batch touching k keys reads ~k/buckets of
    * each touched month for the probe and merge instead of the whole
    * month's key column. STATIC overwrite + meta marker, like the
    * mart's bucketed writer. The count is fixed for the hub's life:
    * [[upsert]] reads it from the marker.
    */
  def writeBucketedHub(df: DataFrame, path: String, buckets: Int): Unit = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val spark = df.sparkSession
    // Leased (round-11 verdict item 4): the static overwrite below
    // deletes the whole dataset before its job commits — interleaving
    // with a running UploadFlow on the same hub must fail loudly, not
    // corrupt. Reentrant: the flow's own first-write lands here
    // already holding this lease.
    MaintenanceLease.withLease(spark, path) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      withBucketCol(prepPartitionCols(df.drop(ingestSeqCol)), buckets)
        .write
        .option("partitionOverwriteMode", "static")
        .partitionBy((partitionCols :+ bucketPartCol): _*)
        .mode("overwrite")
        .parquet(path)
      DeleteJournal.writeMarkerAtomic(fs, root, hubMetaFile,
        s"buckets=$buckets\n")
    }
  }

  /** Staging sibling of an in-flight [[migrateToBucketed]]. */
  private[claims] def migrationStaging(path: String)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__migrating")

  /** Migrate an existing FLAT hub to the key-hash bucketed layout in
    * place (round-11 verdict item 1: the flat default paid a full
    * narrow key-column scan per upload; the bucket-pruned probe
    * existed only for hubs born bucketed). One lease-guarded rewrite;
    * rows, schema, and every downstream artifact (mart, counts) are
    * unchanged — only the directory layout (and therefore the upsert's
    * probe cost) changes. Idempotent: a hub already bucketed at
    * `buckets` is a no-op; a different existing bucket count throws
    * (re-bucketing is a deliberate second migration from the READ
    * data, not something to trip into).
    *
    * Crash safety — the naive form (static overwrite of the hub from a
    * frame reading the hub) loses the entire hub to a mid-job crash,
    * so the rewrite STAGES: (1) write the full bucketed layout to a
    * sibling `<path>__migrating` dir, marker stamped last; (2) delete
    * the original; (3) rename staging into place. A crash before (2)
    * leaves the original untouched (re-run restarts staging); a crash
    * between (2) and (3) leaves a complete marker-stamped staging and
    * no hub — re-running the migration detects exactly that state and
    * finishes the rename without reading any data. The delete→rename
    * window is the one non-atomic moment and it is heal-by-rerun,
    * never data loss.
    *
    * `buckets = None` sizes the count from the largest month's bytes on
    * disk ([[bucketsFor]], a driver-side listing).
    */
  def migrateToBucketed(spark: SparkSession, path: String,
      buckets: Option[Int] = None): Unit = {
    buckets.foreach(b => require(b > 0, s"buckets must be positive: $b"))
    MaintenanceLease.withLease(spark, path) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staging = migrationStaging(path)
      val stagingComplete =
        fs.exists(new org.apache.hadoop.fs.Path(staging, hubMetaFile))
      if (!exists(spark, path)) {
        // Either a crashed migration's delete→rename window (finish
        // the rename) or a caller bug (nothing to migrate).
        require(stagingComplete, s"nothing to migrate at $path")
        require(fs.rename(staging, root),
          s"could not rename $staging to $root")
        return
      }
      readHubMeta(fs, root) match {
        case Some(b) if buckets.forall(_ == b) => return // already migrated
        case Some(b) => throw new IllegalStateException(
          s"$path is already bucketed at $b buckets; re-bucketing to " +
            s"${buckets.get} is a deliberate operation — read the hub " +
            "and writeBucketedHub to a new path")
        case None => ()
      }
      // Finish any in-flight vacated-partition deletes first so the
      // staged copy never resurrects superseded files.
      DeleteJournal.heal(fs, root, pendingDeletesFile)
      if (fs.exists(staging)) fs.delete(staging, true)
      // A torn bucketed layout (bucket dirs, no marker — a crashed
      // writeBucketedHub) still READS correctly; drop the partition
      // column so the staged write re-derives buckets from keys.
      val hub = read(spark, path).drop(bucketPartCol)
      writeBucketedHub(hub, staging.toString,
        buckets.getOrElse(bucketsFor(spark, largestMonthBytes(fs, root))))
      fs.delete(root, true)
      require(fs.rename(staging, root),
        s"could not rename $staging to $root — re-run migrateToBucketed" +
          " to finish the swap")
    }
  }

  /** Bytes on disk of the hub's largest `접수년=/접수월=` directory. */
  private def largestMonthBytes(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Long = {
    def dirs(p: org.apache.hadoop.fs.Path) = fs.listStatus(p)
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    (for (y <- dirs(root); m <- dirs(y.getPath))
      yield fs.getContentSummary(m.getPath).getLength).maxOption.getOrElse(0L)
  }

  /** True when any third-level partition dir carries the bucket
    * column — the signature of a (possibly torn) bucketed layout.
    */
  private[claims] def hasBucketDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(root) && fs.listStatus(root).filter(_.isDirectory).exists(y =>
      fs.listStatus(y.getPath).filter(_.isDirectory).exists(m =>
        fs.listStatus(m.getPath).exists(
          _.getPath.getName.startsWith(bucketPartCol + "="))))

  /** The hub's bucket count from its [[hubMetaFile]] marker; None when
    * the marker is absent or records no positive count.
    */
  private[claims] def readHubMeta(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Int] =
    DeleteJournal.readMarker(fs, root, hubMetaFile).get("buckets")
      .flatMap(_.toIntOption).filter(_ > 0)

  /** Bucket-pruned old-locations probe: `bucketSet` holds the batch
    * keys' buckets (by the SAME xxhash64 expression the writer uses —
    * [[upsert]] reads them off its own new-side probe), and the `isin`
    * lands on the partition column — the scan visits only those
    * buckets' files, reading the key column alone (PlanAuditSpec pins
    * both prunings).
    */
  private[graft] def oldLocationsBucketed(hub: DataFrame, keys: DataFrame,
      bucketSet: Set[Long]): DataFrame =
    hub.filter(col(bucketPartCol).isin(bucketSet.toSeq.sorted: _*))
      .join(broadcast(keys), Seq(keyCol), "left_semi")

  /** The affected-partition probe: hub rows currently holding any
    * incoming claim key. Downstream only the partition columns are
    * consumed, so Catalyst prunes the parquet scan to the key column
    * alone (partition values come from the directory layout, not file
    * bytes) — the probe costs one narrow column scan of the hub, not
    * a full-width read. PlanAuditSpec pins the pruned ReadSchema.
    */
  private[graft] def oldLocations(hub: DataFrame, keys: DataFrame): DataFrame =
    hub.join(broadcast(keys), Seq(keyCol), "left_semi")

  /** The hub rows [[upsert]]'s merge reads back for a batch, as far as
    * the probe needs them: the old locations of the batch `keys`
    * (bucket-pruned by `bucketSet` on a bucketed hub, the flat
    * key-column semi-join otherwise) plus the null-key rows.
    *
    * Null keys never match an equality semi-join, but the merge's
    * groupBy collapses ALL null-key rows it sees (SQL null grouping)
    * into one winner. The full-rewrite semantics the scoped upsert
    * must reproduce collapse hub-wide null-key rows on EVERY upsert —
    * if only the null rows inside the keyed affected set joined the
    * merge, multiplicity would depend on which unrelated partition a
    * batch happened to touch. So the hub's null-key partitions are
    * ALWAYS part of the scope: on the bucketed layout a partition
    * filter on the null sentinel bucket, on the flat one a narrow
    * key-column probe (empty for the common hub whose ingest filters
    * null keys — P2).
    */
  private[graft] def oldLocationRows(hub: DataFrame, keys: DataFrame,
      bucketSet: Option[Set[Long]]): DataFrame = bucketSet match {
    case Some(bs) => oldLocationsBucketed(hub, keys, bs)
      .unionByName(hub.filter(col(bucketPartCol) === nullBucket))
    case None => oldLocations(hub, keys)
      .unionByName(hub.filter(col(keyCol).isNull))
  }

  /** A caller's key over claim rows, reported by [[upsert]] before it
    * commits: `onKeys(prior, touched)` receives the keys of the hub
    * rows the merge reads back ([[oldLocationRows]] — where the
    * batch's claims are filed now, plus the null-key rows) and the
    * keys of the batch rows. Both come out of the probe collects the
    * upsert runs anyway, so [[HubStore]] stays ignorant of what the
    * key means.
    */
  final case class KeyProbe(key: Column,
      onKeys: (Set[String], Set[String]) => Unit)

  /** Distinct (layout tuple, `key`) pairs of `df`, collected. Partition
    * values read back as strings when a caller session disables
    * partitionColumnTypeInference — cast in the plan so the probe is
    * conf-independent instead of crashing on getInt.
    */
  private def collectPartKeys(df: DataFrame, layoutCols: Seq[String],
      key: Column): Seq[(Seq[Int], String)] =
    df.select(layoutCols.map(c => col(c).cast("int")) :+ key.as("__key"): _*)
      .distinct().collect().toSeq
      .map(r => (layoutCols.indices.map(r.getInt), r.getString(layoutCols.size)))

  /** Journal of vacated-partition deletes in flight ([[DeleteJournal]])
    * — written only AFTER the merged overwrite commits, so every dir it
    * lists is already superseded and deleting it is safe at any later
    * time.
    */
  private[claims] val pendingDeletesFile = "_graft_pending_deletes"

  private val batchCol = "_batch_seq"

  /** The pure merge (ref: core/storage.py:107-125): old hub gets batch 0,
    * incoming batch 1; keep-last = max (batch, ingest-seq) per key.
    * Single shuffle on the claim key, with MAP-SIDE combine: `max_by`
    * pre-reduces each partition to one surviving row per key before the
    * exchange, where the previous window form shuffled every version of
    * every claim into a per-key sort. (batch, ingest-seq) is unique per
    * row, so the winner is deterministic.
    */
  def merge(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val old = ClaimsEtl.withIngestSeq(existing).withColumn(batchCol, lit(0))
    val neu = ClaimsEtl.withIngestSeq(incoming).withColumn(batchCol, lit(1))
    val unioned = old.unionByName(neu, allowMissingColumns = true)
    val allCols = unioned.columns
    unioned
      .groupBy(col(keyCol))
      .agg(max_by(struct(allCols.map(col): _*),
        struct(col(batchCol), col(ingestSeqCol))).as("__row"))
      .select(col("__row.*"))
  }

  /** S5 — read with optional partition filters; Catalyst prunes the
    * year/month directories (ref: core/storage.py:133-199).
    */
  def read(spark: SparkSession, path: String,
      year: Option[Int] = None, month: Option[Int] = None): DataFrame = {
    val base = spark.read.parquet(path)
    val f1 = year.fold(base)(y => base.filter(col("접수년") === y))
    month.fold(f1)(m => f1.filter(col("접수월") === m))
  }

  /** S6 — partition catalog with row counts, newest first
    * (ref: core/storage.py:202-271).
    */
  def catalog(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("접수년"), col("접수월"))
      .agg(count(lit(1)).as("건수"))
      .orderBy(col("접수년").desc, col("접수월").desc)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }
}
