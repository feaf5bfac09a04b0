package graft.streaming

import graft.claims.{ClaimsEtl, ClaimsSchema, HubStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming upload ingestion — the Spark-native enhancement flagged as
  * post-parity in SURVEY.md §2.10/§7: the reference's manual
  * upload→merge cycle (pages/1, core/storage.py:75-130) modeled as a
  * file-source Structured Stream whose `foreachBatch` performs the same
  * canonicalize→preprocess→upsert pipeline per micro-batch.
  *
  * Each micro-batch is an atomic hub upsert: claim-id keyed dedup with
  * batch-wins ordering, dynamic-partition overwrite. Exactly-once per
  * file via the file-source's checkpointed file log. At cluster scale
  * the same code ingests a landing bucket continuously; locally the
  * test drives it with `processAllAvailable()`.
  */
object StreamingIngest {

  /** Start ingesting CSV uploads dropped into `landingDir` into the hub
    * at `hubPath`. Returns the running query (caller stops it).
    *
    * The stream tracks file ARRIVALS (text source + checkpointed file
    * log = exactly-once per file); each micro-batch re-reads its files
    * as header-mapped CSV — a streaming CSV schema would bind columns
    * positionally, but uploads map columns BY NAME like the reference's
    * pandas reader (canonicalize54 then projects name-wise).
    *
    * `martDir` (optional) keeps the bucketed series mart CURRENT under
    * the stream: each micro-batch runs the full
    * [[graft.claims.UploadFlow]] — hub upsert whose probe yields the
    * pre-upsert prior keys (durably journaled), incremental mart
    * refresh — so
    * continuous uploads maintain both stores at O(delta) instead of
    * the reference's regenerate-everything-per-upload. A failed batch
    * is replayed by the engine against the same file set; the flow is
    * idempotent under replay (keyed merge + journaled refresh).
    * `asOfClock` injects the mart's `last_updated` stamp per batch
    * (the library's usual wall-clock injection; defaults to the
    * session-timezone current date). `martBuckets = None` sizes the
    * mart's key buckets from the data ([[graft.claims.UploadFlow.run]]).
    */
  def start(spark: SparkSession, landingDir: String, hubPath: String,
      checkpointDir: String, martDir: Option[String] = None,
      martBuckets: Option[Int] = None,
      asOfClock: () => String = null,
      leaseTtlMs: Long = 5L * 60 * 1000)
      : StreamingQuery = {
    // Default clock resolves "today" in the SESSION timezone
    // (spark.sql.session.timeZone), not the JVM default — near a
    // midnight boundary the two differ and the stamped last_updated
    // date would silently disagree with every other session-timezone
    // date computation in the engine (r10 review).
    val clock: () => String =
      if (asOfClock != null) asOfClock
      else () => java.time.LocalDate.now(java.time.ZoneId.of(
        spark.conf.get("spark.sql.session.timeZone"))).toString
    val arrivals = spark.readStream
      .option("maxFilesPerTrigger", "16")
      .text(landingDir)

    arrivals.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val files = batch.select(input_file_name().as("f"))
          .distinct().collect().map(_.getString(0)).filter(_.nonEmpty)
        if (files.nonEmpty) {
          val sess = batch.sparkSession
          // Each file is read and canonicalized SEPARATELY, then
          // union'd: a single multi-path csv() takes its schema from
          // the FIRST file and (with Spark's default enforceSchema)
          // binds every other file's columns POSITIONALLY — an upload
          // with the same columns in a different header order would
          // ingest scrambled values. Per-file canonicalize54 projects
          // each header by NAME first (the reference's pandas-reader
          // contract), making the union order-proof. Micro-batches are
          // a bounded handful of uploads (maxFilesPerTrigger), so the
          // per-file read fan-out is driver-side trivial.
          val canon = files.map { f =>
            // Per-file RAW dedup before canonicalize — the reference's
            // per-upload order (core/etl.py:135 drop_duplicates the
            // raw frame, :139 extract_54_fields), applied to each
            // upload independently just as process_claim_data is.
            ClaimsEtl.canonicalize54(
              ClaimsEtl.dropFullDuplicates(sess.read
                .option("header", "true")
                .option("encoding", "UTF-8")
                .csv(f)))
          }.reduce(_ unionByName _)
          // One ingest sequence assigned across the whole batch so the
          // hub's keyed keep-last stays well-defined across files.
          val prepared = ClaimsEtl.preprocess(
            ClaimsEtl.withIngestSeq(canon))
          martDir match {
            case Some(m) =>
              // A 5-minute default lease TTL (vs the interactive flow's
              // 30): the engine restarts a crashed stream quickly, and
              // a dead holder's lease must not block every retried
              // batch for half an hour — batches here are bounded by
              // maxFilesPerTrigger and finish in seconds.
              val incremental = graft.claims.UploadFlow.run(
                sess, prepared, hubPath, m, clock(), martBuckets,
                leaseTtlMs = leaseTtlMs)
              // Surface guard-forced rebuilds: a stream whose uploads
              // keep extending the month spine regenerates everything
              // per batch — operators should see that, not infer it.
              if (!incremental)
                org.slf4j.LoggerFactory.getLogger("graft.StreamingIngest")
                  .info(s"mart refresh took the full-rebuild path " +
                    s"(${files.length} file(s) in batch)")
            case None => HubStore.upsert(sess, prepared, hubPath)
          }
        }
      }
      .start()
  }

  /** Custom keyed state over a claims stream
    * (`flatMapGroupsWithState`): per-plant running total with alert
    * emissions whenever the cumulative count crosses another multiple
    * of `alertEvery`. Demonstrates the stateful-operator surface
    * (SURVEY.md §2.10): bounded per-key state (one long), append-mode
    * emissions.
    */
  def alertStream(claims: DataFrame, alertEvery: Int = 5): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = claims.sparkSession
    import spark.implicits._
    val keyed = claims
      .select(col("플랜트").cast("string").as("plant"))
      .as[String]
      .groupByKey(identity)
    keyed.flatMapGroupsWithState[Long, (String, Long)](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (plant: String, rows: Iterator[String], state: GroupState[Long]) =>
        val before = state.getOption.getOrElse(0L)
        val after = before + rows.size
        state.update(after)
        // one emission per alertEvery threshold crossed in this batch
        ((before / alertEvery + 1) to (after / alertEvery))
          .map(k => (plant, k * alertEvery.toLong)).iterator
    }.toDF("플랜트", "누적_도달")
  }

  /** Event-time windowed counts over a claims stream — the watermarked
    * aggregation surface (SURVEY.md §2.10 optional): monthly counts per
    * plant with late-data tolerance.
    */
  def windowedCounts(stream: DataFrame, watermark: String = "30 days"): DataFrame =
    stream
      .withColumn("ts", col(ClaimsSchema.receiptDateCol).cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(col("플랜트"), window(col("ts"), "30 days").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("플랜트"), col("w.start").as("window_start"), col("n"))
}
