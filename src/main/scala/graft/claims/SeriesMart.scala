package graft.claims

import java.time.YearMonth

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructType}

/** Nested time-series datamart: one document per (플랜트, 제품범주2,
  * 대분류) with a zero-filled monthly history, per-중분류 children, and
  * series stats (ref: core/storage.py:470-660 `generate_nested_series`).
  *
  * Semantics replicated exactly:
  *  - month spine = global min→max month of 접수일자 over the WHOLE hub
  *  - `history` counts ALL rows; `stats` (mean/std/slope) are computed
  *    from Lag_Valid-only counts — the reference's deliberate asymmetry
  *    (core/storage.py:558-573)
  *  - std is sample stddev ddof=1 (np.nanstd(arr, ddof=1)); slope =
  *    least-squares slope of the last 3 points = (y₃−y₁)/2; avg_lag_days
  *    = mean of valid lags rounded to 1dp, 0.0 when none
  *  - JSON `key` joins raw values with Python str() semantics (null →
  *    "None"); filenames sanitize `[\/:*?"<>|]` → "-" with null → ""
  *
  * Scale shape: the global spine bounds are collected first (a 1-row
  * aggregate, skipped when the caller already holds them), then every
  * document comes from two aggregations over that driver-literal
  * spine — child grain (counts collected per key, zero-filled by a
  * `transform`), then parent grain (children sorted, parent series
  * summed element-wise) — with no join and no (#keys × #months) grid
  * materialized; documents are bounded by months × children.
  * The mart itself is written as a partitioned JSON dataset (file-per-
  * key is a driver-side export kept for reference-layout compatibility;
  * at 100 TB key cardinality the dataset form is the real sink).
  */
object SeriesMart {

  private val parentKeys = Seq("플랜트", "제품범주2", "대분류")
  private val childKey = "중분류"

  /** Sample stddev (ddof=1) of an array column, 0.0 when n ≤ 1. */
  private def stdSample(arr: Column): Column = {
    val n = size(arr).cast("double")
    val mean = aggregate(arr, lit(0.0), (a, x) => a + x) / n
    val ss = aggregate(arr, lit(0.0), (a, x) => a + x * x)
    when(n > 1, sqrt(greatest((ss - n * mean * mean) / (n - 1), lit(0.0))))
      .otherwise(lit(0.0))
  }

  private def meanOf(arr: Column): Column = {
    val n = size(arr).cast("double")
    when(n > 0, aggregate(arr, lit(0.0), (a, x) => a + x) / n).otherwise(lit(0.0))
  }

  /** Least-squares slope of the last 3 points ((y₃−y₁)/2 for n=3
    * equispaced), 0.0 when fewer than 3 (ref: core/storage.py:486-500).
    */
  private def slope3(arr: Column): Column =
    when(size(arr) >= 3,
      (element_at(arr, -1) - element_at(arr, -3)) / 2.0)
      .otherwise(lit(0.0))

  private def statsStruct(validArr: Column, avgLag: Column): Column =
    struct(
      meanOf(validArr).as("mean"),
      stdSample(validArr).as("std"),
      slope3(validArr).as("slope"),
      round(coalesce(avgLag, lit(0.0)), 1).as("avg_lag_days"))

  /** Python-str key component: null → "None" (ref: str(plant)). */
  private def pyStr(c: String): Column =
    coalesce(col(c).cast("string"), lit("None"))

  /** Filename-sanitized component: null → "", forbidden chars → "-"
    * (ref: core/storage.py:465-469).
    */
  private def sanitized(c: String): Column =
    regexp_replace(coalesce(col(c).cast("string"), lit("")),
      "[\\\\/:*?\"<>|]", "-")

  private val childCols = parentKeys :+ childKey

  /** The mart key of a row: the parent components joined with "_",
    * Python-str style (lossy — see [[refreshFromCounts]]).
    */
  private[graft] val martKey: Column =
    concat_ws("_", parentKeys.map(pyStr): _*)

  /** Global month spine bounds: min→max `ym` over the dated rows of
    * `df`, None when no row is dated. Each input partition reports its
    * own bounds and the driver reduces them: one job, where a global
    * aggregate adds a single-partition exchange and so a second job.
    */
  private def spineOf(df: DataFrame): Option[(String, String)] = {
    import df.sparkSession.implicits._
    val bounds = df.filter(col("ym").isNotNull).select(col("ym")).as[String]
      .mapPartitions(_.foldLeft(Option.empty[(String, String)]) {
        case (None, m) => Some((m, m))
        case (Some((lo, hi)), m) =>
          Some((if (m < lo) m else lo, if (m > hi) m else hi))
      }.iterator)
      .collect()
    if (bounds.isEmpty) None
    else Some((bounds.map(_._1).min, bounds.map(_._2).max))
  }

  /** Build the mart as a DataFrame of nested documents. `asOf` stands in
    * for the reference's wall-clock `last_updated`. Collects the global
    * spine bounds (one job) before assembling.
    */
  def build(claims: DataFrame, asOf: String): DataFrame = {
    val rows = claims.withColumn("ym",
      date_format(col(ClaimsSchema.receiptDateCol), "yyyy-MM"))
    val valid = col(ClaimsSchema.lagValidCol)
    val lag = col(ClaimsSchema.lagDaysCol)
    // Child-grain monthly counts over ALL rows, undated ones included
    // (a key whose rows are all undated still yields an all-zero
    // history, as in the ref, and its lags still count). `n_lag` is
    // avg(when(valid, lag))'s own denominator: valid rows with a lag.
    val grain = rows
      .groupBy((childCols :+ "ym").map(col): _*)
      .agg(count(lit(1)).as("n_all"),
        sum(when(valid, 1L).otherwise(0L)).as("n_valid"),
        sum(when(valid, lag.cast("long"))).as("sum_lag"),
        count(when(valid, lag)).as("n_lag"))
    assemble(grain, spineOf(rows), asOf)
  }

  /** Document assembly from the maintained count store instead of hub
    * rows ([[SeriesCounts]]) — the O(delta) refresh path. Produces
    * BIT-IDENTICAL documents to [[build]] over the hub the counts were
    * derived from (spec-pinned): `n_all`/`n_valid` are exact integer
    * sums either way, and `sum_lag / n_valid` reproduces Spark's
    * avg(when(valid, lag)) exactly because Lag_Days is an int (both
    * sides sum exactly-representable doubles, then divide once).
    * Without a `spine` the bounds are collected from the count rows
    * (one job).
    */
  def buildFromCounts(countRows: DataFrame, asOf: String,
      spine: Option[(String, String)] = None): DataFrame =
    assemble(countRows.withColumn("n_lag", col("n_valid")),
      spine.orElse(spineOf(countRows)), asOf)

  /** The shared document assembly: two aggregations over a driver-
    * literal month spine, no join. `grain` holds (child key, ym, n_all,
    * n_valid, sum_lag, n_lag) rows — several rows per (child key, ym)
    * are summed, and a null `ym` row keeps its key alive and carries
    * lag sums without entering any series.
    *  - child grain: the dated (ym, n_all, n_valid) entries collected
    *    per child key, zero-filled by a `transform` over the spine
    *    (spine order = ascending, so no sort), plus Σsum_lag, Σn_lag;
    *  - parent grain: the sorted child structs, the parent series as
    *    the element-wise sum of the child series, and the parent lag
    *    Σsum_lag / Σn_lag.
    * The spine is every month lo..hi; with none (no dated row) there
    * is no document.
    */
  private def assemble(grain: DataFrame, spine: Option[(String, String)],
      asOf: String): DataFrame = {
    val months = spine.fold(Seq.empty[String]) { case (lo, hi) =>
      val end = YearMonth.parse(hi)
      Iterator.iterate(YearMonth.parse(lo))(_.plusMonths(1))
        .takeWhile(!_.isAfter(end)).map(_.toString).toSeq
    }
    val spineArr = array(months.map(lit): _*).cast("array<string>")
    def entry(ym: Column, nAll: Column, nValid: Column): Column =
      struct(ym.as("ym"), nAll.as("n_all"), nValid.as("n_valid"))
    def sumAt(entries: Column, m: Column, field: String): Column =
      aggregate(filter(entries, e => e.getField("ym") === m), lit(0L),
        (acc, e) => acc + e.getField(field).cast("long"))
    def avgLag: Column =
      when(col("n_lag") > 0, col("sum_lag") / col("n_lag"))
    def stats: Column = statsStruct(
      transform(col("series"), s => s.getField("n_valid").cast("double")),
      avgLag)
    def history: Column = transform(col("series"), s =>
      struct(s.getField("ym").as("date"),
        s.getField("n_all").cast("int").as("count")))

    val children = grain.where(lit(months.nonEmpty))
      .groupBy(childCols.map(col): _*)
      .agg(collect_list(when(col("ym").isNotNull,
          entry(col("ym"), col("n_all"), col("n_valid")))).as("entries"),
        sum("sum_lag").as("sum_lag"), sum("n_lag").as("n_lag"))
      .select(childCols.map(col) ++ Seq(col("sum_lag"), col("n_lag"),
        transform(spineArr, m => entry(m, sumAt(col("entries"), m, "n_all"),
          sumAt(col("entries"), m, "n_valid"))).as("series")): _*)

    val zero = transform(spineArr, m => entry(m, lit(0L), lit(0L)))
    children
      .groupBy(parentKeys.map(col): _*)
      .agg(
        array_sort(collect_list(struct(
          coalesce(col(childKey).cast("string"), lit("")).as("sub_key"),
          stats.as("stats"), history.as("history")))).as("children"),
        aggregate(collect_list(col("series")), zero, (acc, s) =>
          zip_with(acc, s, (a, b) => entry(a.getField("ym"),
            a.getField("n_all") + b.getField("n_all"),
            a.getField("n_valid") + b.getField("n_valid")))).as("series"),
        sum("sum_lag").as("sum_lag"), sum("n_lag").as("n_lag"))
      .select(
        martKey.as("key"),
        concat_ws("_", parentKeys.map(sanitized): _*).as("filename_key"),
        struct(
          lit(asOf).as("last_updated"),
          lit(0).as("warning_level"),
          lit(null).cast("string").as("champion_model"),
          stats.as("parent_stats")).as("meta"),
        struct(
          history.as("history"),
          array().cast("array<struct<date:string,count:int>>").as("forecast"))
          .as("data"),
        col("children"))
  }

  /** Dataset-form sink (the 100 TB path): one JSON dataset, partition
    * count sized by the writer.
    */
  def writeJsonDataset(mart: DataFrame, dir: String): Unit =
    mart.drop("filename_key").write.mode("overwrite").json(dir)

  private val bucketCol = "key_bucket"

  /** Key-bucketed parquet form of the mart — the layout that makes
    * INCREMENTAL maintenance possible: documents hash into a bounded
    * number of partitions, so a refresh touching few keys rewrites few
    * directories. Parquet (not JSON) so the read-back schema is exact
    * and the refresh's keep∪rebuilt union never drifts on inference.
    * The refresh sizes `buckets` from the count store at every full
    * rebuild ([[HubStore.bucketsFor]]): one bucket until the mart
    * outgrows one scan split. `buckets` must be positive: pmod by 0 is
    * NULL, which would file every document under the HIVE default
    * partition.
    *
    * STATIC overwrite by default: a standalone write (and the full-
    * rebuild path) replaces the WHOLE mart, including buckets whose
    * documents all disappeared — dynamic overwrite would leave those
    * buckets' old files as ghost documents no fresh build produces.
    * Only [[refreshFromCounts]]'s touched-bucket write passes
    * `dynamic = true`, where untouched buckets keeping their bytes is
    * the point.
    */
  def writeBucketedMart(mart: DataFrame, dir: String,
      buckets: Int, dynamic: Boolean = false,
      spine: Option[(String, String)] = None): Unit = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    mart.withColumn(bucketCol, pmod(xxhash64(col("key")), lit(buckets)))
      .write
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .partitionBy(bucketCol)
      .mode("overwrite")
      .parquet(dir)
    // A static (full) write stamps the meta AFTER the data commits —
    // with `spine` when the caller knows it (the guarded full
    // rebuild), buckets-only otherwise (a direct call) so point
    // lookups ([[readDocument]]) can still prune while
    // [[refreshFromCounts]] treats the spine-less layout as
    // unverifiable and full-rebuilds. The incremental (dynamic) path
    // leaves the meta alone — its caller validated it already.
    if (!dynamic) {
      val spark = mart.sparkSession
      val root = new org.apache.hadoop.fs.Path(dir)
      writeMartMeta(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        dir, buckets, spine)
    }
  }

  /** O(one bucket) point lookup of a mart document by its key — the
    * reference UI's per-series read (it opens one JSON file per key;
    * here the xxhash bucket is the file-system unit). The layout's
    * bucket count comes from the [[martMetaFile]] marker, never from a
    * caller's guess; a marker-less layout (foreign/hand-written)
    * degrades to a key-filtered full scan rather than a wrong-bucket
    * miss.
    *
    * The read opens only the key's `key_bucket=` directory (with the
    * mart as `basePath`) and the known document schema: no listing of
    * the other buckets and no schema-inference job. A key whose bucket
    * holds no documents yields an empty frame.
    */
  def readDocument(spark: SparkSession, dir: String, key: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Heal the vacated-bucket delete journal FIRST (r10 review): after
    // a crash between a refresh's dynamic-overwrite commit and its
    // vacated-bucket deletes, a drained key's stale files are still on
    // disk — without the heal a point lookup serves that ghost
    // document until the next refresh happens to run. Healing here is
    // one existence check in the common (no-crash) case.
    DeleteJournal.heal(fs, new org.apache.hadoop.fs.Path(dir),
      martPendingDeletesFile)
    readMartMeta(fs, dir) match {
      case Some((n, _)) =>
        val bucket = new org.apache.hadoop.fs.Path(dir,
          s"$bucketCol=${bucketsOf(spark, Set(key), n).head}")
        if (!fs.exists(bucket))
          spark.createDataFrame(java.util.List.of[Row](), documentSchema)
        else spark.read.schema(documentSchema).option("basePath", dir)
          .parquet(bucket.toString)
          .filter(col("key") === key).drop(bucketCol)
      case None =>
        spark.read.parquet(dir).filter(col("key") === key).drop(bucketCol)
    }
  }

  /** Mart buckets of `keys`, by the writer's own xxhash64 expression —
    * never a hand-rolled reimplementation that could drift from
    * Spark's seed or encoding. Over a local relation the optimizer
    * evaluates it on the driver, so no job runs.
    */
  private def bucketsOf(spark: SparkSession, keys: Set[String],
      buckets: Int): Set[Long] = {
    import spark.implicits._
    keys.toSeq.toDF("key")
      .select(pmod(xxhash64(col("key")), lit(buckets)))
      .collect().map(_.getLong(0)).toSet
  }

  /** The document schema as parquet reads it back (every field
    * nullable). [[build]] and [[buildFromCounts]] share [[assemble]],
    * whose output types do not depend on the key columns' types, so
    * analysing an empty count frame over a given spine yields it
    * without running a job.
    */
  private lazy val documentSchema: StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case other => other
    }
    val empty = SparkSession.active.createDataFrame(
      java.util.List.of[Row](), SeriesCounts.schema)
    nullable(buildFromCounts(empty, "", Some(("2000-01", "2000-01"))).schema)
      .asInstanceOf[StructType]
  }

  /** Bytes on disk of the files `df` scans, summed from the listing its
    * file index already holds (no job, no file-system call); 0 for a
    * frame that reads no files.
    */
  private def listedBytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.sizeInBytes }.sum

  /** Mart metadata marker (leading `_` keeps it invisible to the
    * parquet reader, like `_SUCCESS`): the bucket count the layout was
    * written with and the month spine its histories span. Read by
    * [[refreshFromCounts]] to validate that an incremental write is
    * meaningful — a bucket-count change or spine drift silently
    * corrupts a dynamic-overwrite union, so either forces the full
    * rebuild. Written temp-then-rename so a crash never leaves a torn
    * marker.
    */
  private[claims] val martMetaFile = "_graft_mart_meta"

  private def writeMartMeta(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, buckets: Int, spine: Option[(String, String)]): Unit =
    DeleteJournal.writeMarkerAtomic(fs,
      new org.apache.hadoop.fs.Path(dir), martMetaFile,
      s"buckets=$buckets\n" + spine.fold("")(s =>
        s"lo=${s._1}\nhi=${s._2}\n"))

  /** (bucket count, spine) from the [[martMetaFile]] marker; None when
    * the marker is absent or records no positive bucket count.
    */
  private def readMartMeta(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[(Int, Option[(String, String)])] = {
    val kv = DeleteJournal.readMarker(fs,
      new org.apache.hadoop.fs.Path(dir), martMetaFile)
    kv.get("buckets").flatMap(_.toIntOption).filter(_ > 0)
      .map(b => (b, for (lo <- kv.get("lo"); hi <- kv.get("hi")) yield (lo, hi)))
  }

  /** Mart keys the batch's claims are CURRENTLY filed under in a hub —
    * run against the PRE-upsert hub to capture the parent keys a claim
    * is about to move away from. An upload that corrects a claim's
    * 플랜트/제품범주2/대분류 changes its mart document; the batch alone
    * only names the NEW document, and without the old one in the
    * touched set [[refreshFromCounts]] would leave it permanently
    * stale. Null-key batch rows never match (they cannot be updates of
    * an existing claim — the hub merge collapses them separately).
    * [[UploadFlow]] does not call this: it takes the same keys from
    * the upsert's own probe ([[HubStore.KeyProbe]]), one scan instead
    * of two.
    */
  def priorParentKeys(preUpsertHub: DataFrame, batch: DataFrame): Set[String] = {
    val keys = batch.filter(col(ClaimsSchema.keyCol).isNotNull)
      .select(col(ClaimsSchema.keyCol)).distinct()
    HubStore.oldLocations(preUpsertHub, keys)
      .select(martKey).distinct().collect().map(_.getString(0)).toSet
  }

  /** Durable record of the parent keys an IN-FLIGHT upload touches —
    * before the hub commit, from the upsert's pre-commit hook
    * ([[UploadFlow]]). The pre-upsert prior-key probe exists only in
    * driver memory; if the process dies between the hub commit
    * and the completed mart refresh, a retry re-probes the ALREADY-
    * MERGED hub, finds only the claims' NEW locations, and the vacated
    * document would stay stale forever. [[refreshFromCounts]] unions
    * every journaled generation into its touched set and clears
    * exactly the generations it read once the refresh completes —
    * regenerating an already-fresh document is idempotent, so
    * replaying a stale journal entry is harmless. This is the marker
    * PREFIX: each call writes a fresh `<prefix>.<suffix>` generation
    * (see [[journalTouchedKeys]] for why replace is not an option).
    * Writers to one mart dir are expected to serialize (any
    * non-table-format parquet maintenance shares that constraint; the
    * streaming ingester's foreachBatch does so per query) — the
    * generation scheme additionally keeps a racing upload's COMPLETED
    * journal write from being clobbered or prematurely cleared. A
    * racing write still IN FLIGHT when a refresh's tmp sweep runs
    * fails loudly before that upload's hub upsert (see
    * [[clearTouchedJournals]]) — an availability trade, never a
    * consistency one; concurrent refreshes of one mart remain
    * undefined.
    */
  private[claims] val touchedJournalFile = "_graft_mart_pending_touch"

  def journalTouchedKeys(spark: org.apache.spark.sql.SparkSession,
      dir: String, keys: Set[String]): Unit = {
    if (keys.isEmpty) return
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // One base64 line per key (key text comes from raw claim values —
    // the line format must not trust it to be newline-free); the
    // generation lifecycle (fresh full-UUID names, union-read, sweep
    // of orphaned tmps) lives in [[GenerationJournal]].
    val b64 = java.util.Base64.getEncoder
    GenerationJournal.append(fs, root, touchedJournalFile,
      keys.toSeq.sorted.map(k => b64.encodeToString(k.getBytes("UTF-8"))))
  }

  /** Every journaled generation: (union of keys, the marker paths
    * read).
    */
  private def readTouchedJournals(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): (Set[String], Seq[org.apache.hadoop.fs.Path]) = {
    val b64 = java.util.Base64.getDecoder
    val (lines, markers) = GenerationJournal.readAll(fs,
      new org.apache.hadoop.fs.Path(dir), touchedJournalFile)
    (lines.map(l => new String(b64.decode(l), "UTF-8")).toSet, markers)
  }

  private def clearTouchedJournals(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, read: Seq[org.apache.hadoop.fs.Path]): Unit =
    GenerationJournal.clear(fs, new org.apache.hadoop.fs.Path(dir),
      touchedJournalFile, read)

  /** Journal of vacated-bucket deletes in flight ([[DeleteJournal]]):
    * an incremental refresh whose touched bucket ends up with ZERO
    * surviving documents (the bucket's only series vanished on a
    * parent-key move) is never visited by dynamic overwrite, so the
    * stale files are deleted explicitly — journaled first, so a crash
    * between the commit and the deletes is healed by the next refresh.
    */
  private[claims] val martPendingDeletesFile = "_graft_mart_pending_deletes"

  /** Untouched documents sharing a touched bucket, carried over
    * byte-equal by the refresh. The bucket filter prunes the parquet
    * read to the touched PARTITIONS (PlanAuditSpec pins the
    * PartitionFilters) — untouched buckets are never visited.
    */
  private[graft] def keepRows(existing: DataFrame,
      touchedBuckets: Set[Long], touchedKeys: Set[String]): DataFrame =
    existing
      .filter(col(bucketCol).isin(touchedBuckets.toSeq: _*))
      .filter(!col("key").isin(touchedKeys.toSeq: _*))
      .drop(bucketCol)

  /** Incremental view maintenance — the reference's INTENDED
    * per-series regeneration (docs/project_master.md:24), which its
    * implementation never achieved (core/storage.py:504+ regenerates
    * every document per upload). Regenerates ONLY the parent series
    * named by `touchedKeys` and rewrites only their hash buckets; every
    * other document keeps its bytes. Every document is assembled from
    * the maintained [[SeriesCounts]] store ([[buildFromCounts]]) and
    * the global-spine probe aggregates count rows, so every read is
    * counts-bounded; the refresh takes no hub at all. `counts` must be
    * current with the merged hub ([[SeriesCounts.applyPending]] first
    * — [[UploadFlow]] orders this).
    *
    * VALIDITY GUARDS (any failing one runs the full rebuild instead):
    *  - first build: no mart data yet, or no dated count row to span
    *    a spine;
    *  - missing marker: no [[martMetaFile]], or one with no positive
    *    bucket count (a layout written before the marker existed, or
    *    a foreign one) — self-heals, since the rebuild stamps it;
    *  - spine drift: the marker's month spine differs from the
    *    counts'. The spine is GLOBAL (min→max receipt month over the
    *    whole hub), so a batch whose dates extend it — the first upload
    *    of every month — changes every document's zero-filled history.
    *    A direct [[writeBucketedMart]] layout lands here too: its
    *    marker is spine-less, which never equals a concrete spine;
    *  - bucket-count drift: an explicit `buckets` differs from the
    *    marker's count — the union of two hash layouts would file keys
    *    inconsistently.
    * `buckets = None` keeps the marker's count on the incremental path
    * and sizes a full rebuild from the count store's bytes on disk
    * ([[HubStore.bucketsFor]]).
    * Returns true when the incremental path ran, false on a full
    * rebuild (every document rebuilt and re-stamped) — callers can
    * alert when uploads keep forcing full regenerations.
    *
    * `touchedKeys` — the mart keys to regenerate: the batch rows'
    * keys plus the batch claims' PRE-upsert keys (both reported by the
    * upsert's probe, [[HubStore.KeyProbe]]). The prior keys make a
    * parent-key move regenerate the document the claim left, not only
    * the one it arrived in.
    *
    * `last_updated`: untouched documents are carried over
    * byte-for-byte, INCLUDING `meta.last_updated` — a document not
    * updated keeps its original stamp, where a full rebuild re-stamps
    * everything with `asOf` (spec-pinned; the honest reading of "last
    * updated").
    */
  def refreshFromCounts(spark: SparkSession,
      counts: DataFrame, touchedKeys: Set[String], asOf: String,
      dir: String, buckets: Option[Int] = None): Boolean =
   // Leased: a direct refresh racing a live UploadFlow would interleave
   // with its journal lifecycle silently; the flow itself re-enters (it
   // already holds the mart lease).
   MaintenanceLease.withLease(spark, dir) {
    val spineOpt = spineOf(counts)
    val martRoot = new org.apache.hadoop.fs.Path(dir)
    val fs = martRoot
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // First build = no mart DATA yet; an existing-but-empty directory
    // (a caller's fresh mkdir) counts as absent, like HubStore.exists,
    // and so does one holding only `_`/`.`-prefixed markers — the
    // lease, journals, and meta land in this directory before the
    // first data write does.
    val firstBuild = !fs.exists(martRoot) ||
      !fs.listStatus(martRoot).exists { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    def fullRebuild(): Boolean = {
      // STATIC overwrite: buckets whose documents all disappeared must
      // not survive as ghosts (the wipe also clears both journals —
      // every document is fresh after it). The complete meta marker
      // (buckets + spine) is stamped once, after the data commits —
      // a crash in between leaves a stale/absent marker, which the
      // next refresh reads as "rebuild again" (self-healing).
      writeBucketedMart(buildFromCounts(counts, asOf, spineOpt), dir,
        buckets.getOrElse(HubStore.bucketsFor(spark, listedBytes(counts))),
        spine = spineOpt)
      clearTouchedJournals(fs, dir, readTouchedJournals(fs, dir)._2)
      false
    }
    if (firstBuild || spineOpt.isEmpty) return fullRebuild()
    DeleteJournal.heal(fs, martRoot, martPendingDeletesFile)
    val n = readMartMeta(fs, dir) match {
      case Some((b, s)) if s == spineOpt && buckets.forall(_ == b) => b
      case _ => return fullRebuild()
    }
    // Touched documents: the caller's keys plus any keys a CRASHED
    // upload journaled before its hub commit ([[journalTouchedKeys]])
    // — the retry's own probe cannot refind those in the merged hub.
    // Only the generations READ here are cleared at completion.
    val (journaled, journalFiles) = readTouchedJournals(fs, dir)
    val touched = touchedKeys ++ journaled
    if (touched.isEmpty) {
      clearTouchedJournals(fs, dir, journalFiles); return true
    }
    // The known schema (the bucket column typed as partition inference
    // types it): no schema-inference job.
    val existing = spark.read
      .schema(documentSchema.add(bucketCol, IntegerType)).parquet(dir)
    val touchedBuckets = bucketsOf(spark, touched, n)
    // The rebuild filters on the computed mart key, not per-column
    // equalities: the key is LOSSY (components may contain the "_"
    // separator — the fixture's own "PLANT_A"/"CAT2_X" do — and a
    // Python-str null is the literal "None"), so distinct parent
    // tuples can share one key. The keep-filter drops existing
    // documents BY KEY, so the rebuild must regenerate every tuple
    // colliding into a touched key or the collision partner's document
    // is lost; only the concat form matches exactly that set. A
    // touched key with no count rows left (a parent-key move drained
    // it) yields no document.
    val rebuilt = buildFromCounts(
      counts.filter(martKey.isin(touched.toSeq: _*)), asOf, spineOpt)
    val keep = keepRows(existing, touchedBuckets, touched)
    val out = graft.Checkpoint.pinTransient(
      keep.unionByName(rebuilt.select(keep.columns.map(col): _*)))
    try {
      writeBucketedMart(out, dir, n, dynamic = true)
      // Touched buckets with zero surviving documents were never
      // visited by the dynamic write — delete them (journaled). The
      // probe collects ≤ `n` longs off the pinned frame, never the
      // documents themselves.
      val outBuckets = out
        .select(pmod(xxhash64(col("key")), lit(n)).as("b"))
        .distinct().collect().map(_.getLong(0)).toSet
      val vacated = (touchedBuckets -- outBuckets).toSeq.sorted
        .map(b => s"$bucketCol=$b")
      DeleteJournal.journalThenDelete(fs, martRoot,
        martPendingDeletesFile, vacated)
      // The refresh is complete: every journal generation read at the
      // start has been honored (a generation a racing upload wrote
      // AFTER the read survives for that upload's own refresh).
      clearTouchedJournals(fs, dir, journalFiles)
    } finally graft.Checkpoint.release(out)
    true
   }

  /** Reference-layout export: one pretty JSON file per key with the
    * sanitized filename (ref: core/storage.py:643-648). Driver-side by
    * design — the shipped mart is ~5k small files.
    */
  def writePerKeyFiles(mart: DataFrame, dir: String): Int = {
    val out = new java.io.File(dir)
    out.mkdirs()
    var written = 0
    val it = mart.toJSON.collectAsList().iterator()
    val keyRe = "\"filename_key\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
    // Distinct keys can SANITIZE to the same filename ("A/B" and
    // "A:B" both become "A-B"); without disambiguation the second
    // write silently overwrote the first while `written` counted both.
    val used = scala.collection.mutable.Map.empty[String, Int]
    while (it.hasNext) {
      val json = it.next()
      val fn0 = keyRe.findFirstMatchIn(json).map(_.group(1)).getOrElse("unknown")
      val n = used.getOrElse(fn0, 0)
      used(fn0) = n + 1
      val fn = if (n == 0) fn0 else s"$fn0-$n"
      val cleaned = json.replaceFirst(",?\"filename_key\":\"(?:[^\"\\\\]|\\\\.)*\"", "")
      val f = new java.io.File(out, s"$fn.json")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.write(cleaned) finally w.close()
      written += 1
    }
    written
  }
}
