package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * Baseline: brute-force cosine top-k — a single scan with codegen'd
  * array arithmetic (`zip_with`/`aggregate`), no UDF. Scale path:
  * random-hyperplane LSH bucketing — signatures are computed map-side
  * against a broadcast hyperplane set; candidate generation touches
  * only same-bucket vectors, so the 100 TB corpus shuffles
  * (id, bucket) pairs instead of n² distances.
  */
object VectorOps {

  /** Σ aᵢ·bᵢ for two numeric arrays (double out) — the native codegen
    * expression; the `aggregate(zip_with(...))` formulation evaluated
    * an interpreted lambda per element per row.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Brute-force cosine top-k against one query vector (given as a
    * 1-row DataFrame with `qvec`): scan → score → TakeOrdered(k).
    * Deterministic tie-break on id.
    */
  def topKCosine(vectors: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    vectors
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(cosine(col(vecCol).cast("array<double>"),
          col("qvec").cast("array<double>")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** splitmix64 finalizer — deterministic hyperplane component source. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-random hyperplanes: component h(p, i) from a
    * splitmix64 recurrence scaled to [-1, 1). No RNG state —
    * reproducible across runs, sessions, and engines. Computed ONCE on
    * the driver and shipped in the UDF closure (planes × dim doubles,
    * a few KB), NOT re-derived per row: the earlier higher-order-
    * function formulation re-evaluated planes×dim interpreted hash
    * lambdas for every row and measured 7× slower than brute force.
    */
  def hyperplanes(dim: Int, planes: Int): Array[Array[Double]] =
    Array.tabulate(planes) { p =>
      Array.tabulate(dim) { i =>
        mix64(p.toLong * 1000003L + i).toDouble / Long.MaxValue.toDouble
      }
    }

  /** LSH bucket keys for `tables` independent hash tables: table t uses
    * planes [t·planes, (t+1)·planes); sign bits of each table's
    * projections pack into one long, all computed in a single unboxed
    * multiply-add pass per row. Returns array<long> of length `tables`.
    */
  def lshBuckets(vec: Column, dim: Int, planes: Int, tables: Int): Column = {
    val hp = hyperplanes(dim, planes * tables)
    val f = udf { v: Seq[Double] =>
      val arr = v.toArray
      Array.tabulate(tables) { t =>
        var bucket = 0L
        var p = 0
        while (p < planes) {
          val plane = hp(t * planes + p)
          val n = math.min(arr.length, plane.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += arr(i) * plane(i); i += 1 }
          if (s >= 0) bucket |= (1L << p)
          p += 1
        }
        bucket
      }
    }
    f(vec.cast("array<double>"))
  }

  /** Single-table LSH bucket key (tables = 1). */
  def lshBucket(vec: Column, dim: Int, planes: Int): Column =
    lshBuckets(vec, dim, planes, 1).getItem(0)

  /** Embedding-cosine near-duplicate pairs: exact all-pairs above a
    * high threshold. Vectors are L2-normalized ONCE map-side so the
    * pair comparison is a single dot product; at corpus scale the
    * approximate prefilter is `lshBucket`/`ivfTopK` — this exact form
    * is the oracle-checkable baseline (and the verifier LSH candidates
    * feed into). The per-pair dot product runs as an unboxed
    * mapPartitions loop — a Column-lambda `aggregate(zip_with(...))`
    * measured ~500× slower in nested HigherOrderFunctions.
    *
    * @param broadcastBlockSize the collected side is broadcast in
    *        blocks of this many vectors, so corpora larger than
    *        executor memory stream block by block (results union; each
    *        block pass is a full scan of the distributed side).
    */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, broadcastBlockSize: Int = 1 << 20): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // null embeddings excluded (no geometry; the driver-side block
    // builder and the pair loop both dereference the array)
    val prepped = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vid"),
        col(vecCol).cast("array<double>").as("v"))
    // One side of the self-join is broadcast as primitive arrays; the
    // other streams through mapPartitions with an unboxed dot-product
    // loop. This is the deliberate last-resort imperative kernel for
    // the O(n²) exact baseline — a join would materialize every pair
    // row with both vectors attached (measured 500× slower). The
    // approximate paths (LSH / IVF) prefilter instead at corpus scale.
    // Blocks stream through the driver via toLocalIterator — at no
    // point does the full corpus sit in driver heap; each block is
    // handed to the (disk-backed) broadcast manager and dropped.
    import scala.jdk.CollectionConverters._
    val localBlocks = prepped.toLocalIterator().asScala.map { r =>
      val arr = r.getSeq[Double](1).toArray
      var s = 0.0
      var i = 0
      while (i < arr.length) { s += arr(i) * arr(i); i += 1 }
      (r.getLong(0), arr, math.sqrt(s))
    }.grouped(broadcastBlockSize)

    val streaming = prepped.repartition(spark.sparkContext.defaultParallelism)
    val blockResults = localBlocks.map { blockSeq =>
      val bc = spark.sparkContext.broadcast(blockSeq.toArray)
      streaming
        .flatMap { r =>
          val idA = r.getLong(0)
          val a = r.getSeq[Double](1).toArray
          var sa = 0.0
          var i = 0
          while (i < a.length) { sa += a(i) * a(i); i += 1 }
          val nrmA = math.sqrt(sa)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          val all = bc.value
          var j = 0
          while (j < all.length) {
            val (idB, b, nrmB) = all(j)
            if (idB > idA && nrmA * nrmB > 0) {
              var dot = 0.0
              var k = 0
              val n = math.min(a.length, b.length)
              while (k < n) { dot += a(k) * b(k); k += 1 }
              val cos = dot / (nrmA * nrmB)
              if (cos >= threshold) out += ((idA, idB, cos))
            }
            j += 1
          }
          out
        }
        .toDF("id_a", "id_b", "cos_raw")
    }.toSeq
    val empty = Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cos_raw")
    (blockResults :+ empty).reduce(_ unionByName _)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** LSH-bucketed embedding near-duplicate pairs — the scale path for
    * [[cosineNearDupPairs]]: instead of the exact O(n²) sweep, vectors
    * are keyed by `tables` independent hyperplane signatures and only
    * same-bucket pairs are ever scored. The index shuffles
    * (id, table, bucket) triples — never vectors; vectors re-attach by
    * join only for the candidate pairs (the minhash id-only-bucket
    * shape from [[graft.text.DedupJobs]]). Every emitted pair is
    * verified by an exact cosine, so output precision is exact and
    * output ⊆ the exact all-pairs result; recall is the standard
    * 1−(1−pᵖˡᵃⁿᵉˢ)ᵗᵃᵇˡᵉˢ S-curve (deterministic here — fixed
    * hyperplanes), and IDENTICAL vectors are always found (equal
    * signatures in every table).
    *
    * @param maxBucket skew guard: buckets over the cap degrade to
    *        linear STAR pairs around the smallest-id member (the
    *        simhash treatment) — duplicate-dense buckets stay
    *        connected through the hub instead of exploding m²/2
    *        structs in one task.
    */
  def lshNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, planes: Int = 12, tables: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    // EAGER by design (the buildMinhashPairs pattern): the (id, vec)
    // frame feeds THREE consumers — the bucketing scan and the two
    // vector re-attach joins — which as a lazy plan meant three full
    // corpus scans per action. It persists for the duration of ONE
    // build here, the small verified-pairs result is pinned
    // (lineage-truncated), and the corpus cache is dropped before
    // returning. Null embeddings excluded like every vector kernel.
    val prepped = vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .persist()
    // outer + isNotNull at every computed-array explode: the inner form
    // lets InferFiltersFromGenerate clone the LSH hashing UDF into a
    // size()>0 pre-filter, doubling the bucketing stage.
    val buckets = prepped
      .select(col("vid"), posexplode_outer(lshBuckets(col("v"), dim, planes, tables))
        .as(Seq("tbl", "bucket")))
      .filter(col("bucket").isNotNull)
      .groupBy(col("tbl"), col("bucket"))
      .agg(sort_array(collect_list(col("vid"))).as("members"))
      .filter(size(col("members")) >= 2)
    // Shared cap-degrade exprs (BucketPairs); `members` arrives sorted
    // from the aggregation, so the star hub is the smallest id.
    val fullPairs = graft.text.BucketPairs.fullPairs("members", "p.x < p.y")
    val starPairs = graft.text.BucketPairs.starPairs("members")
    val cand = buckets
      .select(explode_outer(when(size(col("members")) <= lit(maxBucket), fullPairs)
        .otherwise(starPairs)).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.x").as("id_a"), col("p.y").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    try
      graft.Checkpoint.pin(cand
        .join(prepped.select(col("vid").as("id_a"), col("v").as("va")),
          Seq("id_a"))
        .join(prepped.select(col("vid").as("id_b"), col("v").as("vb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          cosine(col("va"), col("vb")).as("cos_raw"))
        .filter(col("cos_raw") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("cos_raw"), 4).as("cos_sim")))
    finally prepped.unpersist(blocking = false)
  }

  /** Scalar int8 quantization error analysis — the embedding
    * compression step of a corpus-scale vector pipeline (4× storage
    * cut; FAISS's SQ8 recipe): per-dimension [lo, hi] ranges over the
    * corpus, each component mapped to its nearest of 256 levels, and
    * the per-vector max |x − dequant(x)| reported. The ranges are a
    * dim-bounded driver collect (64 doubles, the quantizer CODEBOOK —
    * same posture as the IVF centroids and LSH planes); the
    * quantize/dequantize pass itself is map-side arithmetic over a
    * broadcast codebook, nothing corpus-sized moves. Constant
    * dimensions (hi = lo) quantize exactly (error 0).
    *
    * Returns (id, max_err, excess) where excess = max over dims of
    * err − halfstep: ≤ ~0 by construction (nearest-level rounding can
    * miss by at most half a step), so `excess > ε` rows are the
    * BOUND-VIOLATION set for the paired soundness audit.
    */
  def quantizeError(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val v = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val ranges = v
      .select(posexplode_outer(col("v"))).filter(col("pos").isNotNull)
      .groupBy("pos").agg(min("col").as("lo"), max("col").as("hi"))
      .orderBy("pos").collect()
    val los = typedlit(ranges.map(_.getDouble(1)).toSeq)
    val his = typedlit(ranges.map(_.getDouble(2)).toSeq)
    def err(x: Column, i: Column): Column = {
      val lo = element_at(los, i + 1)
      val hi = element_at(his, i + 1)
      when(hi === lo, lit(0.0)).otherwise(
        abs(x - (lo + round((x - lo) * lit(255.0) / (hi - lo)) *
          (hi - lo) / lit(255.0))))
    }
    def halfstep(i: Column): Column =
      (element_at(his, i + 1) - element_at(los, i + 1)) / lit(510.0)
    // The err array is projected ONCE and both outputs derive from it —
    // two inline transforms would run the whole dequant arithmetic
    // twice per vector (HOF lambdas sit outside common-subexpression
    // elimination; the multiple references also stop CollapseProject
    // from re-inlining the projection).
    v.select(col(idCol), transform(col("v"), (x, i) => err(x, i)).as("__err"))
      .select(col(idCol),
        round(array_max(col("__err")), 6).as("max_err"),
        array_max(transform(col("__err"), (e, i) => e - halfstep(i)))
          .as("excess"))
  }

  /** Multi-probe hyperplane LSH top-k (Lv et al. 2007, "Multi-Probe
    * LSH") over the standard L-tables construction: a candidate is any
    * vector whose bucket in some table lies within Hamming distance
    * `probeRadius` of the query's — the near-miss buckets a true
    * neighbor most likely fell into when one or two hyperplane signs
    * disagreed. The probe expansion lives entirely on the query side
    * (tables × Σ_{i≤r} C(planes, i) pairs — 296 at the 8×8×r2
    * defaults); the index still holds exactly one posting per vector
    * per table, so its size never grows with the probe count. Measured
    * recall@10 against brute force: exact-bucket probing 0.3 → r=1
    * 0.5–0.6 → r=2 (the default) 0.8/0.8/0.9–1.0 at sf0.1/0.01/0.001.
    * At corpus scale, trade probe count against `tables` — more probes
    * reuse the same postings; more tables re-shuffle them.
    *
    * In-memory form: the postings are computed on the fly and the
    * probe is the same [[annTopKCosineIndexed]] the persisted index
    * answers with, so the two return the same rows.
    */
  def annTopKCosine(vectors: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      planes: Int = 8, tables: Int = 8, probeRadius: Int = 2): DataFrame =
    annTopKCosineIndexed(
      LshIndex(lshPostings(vectors, idCol, vecCol, dim, planes, tables),
        lshCorpus(vectors, idCol, vecCol)),
      query, idCol, vecCol, k, dim, planes, tables, probeRadius)

  /** The LSH postings: one (id, tbl, bucket) row per vector per table,
    * no vector column. This is the frame [[lshIndexLoadOrBuild]]
    * persists.
    */
  private def lshPostings(vectors: DataFrame, idCol: String,
      vecCol: String, dim: Int, planes: Int, tables: Int): DataFrame =
    // null embeddings excluded (the hashing UDF dereferences the array)
    vectors.filter(col(vecCol).isNotNull)
      .select(col(idCol),
        posexplode_outer(lshBuckets(col(vecCol), dim, planes, tables))
          .as(Seq("tbl", "bucket")))
      .filter(col("bucket").isNotNull)

  /** The vectors an index scores against: the caller's (id, vector)
    * rows with a non-null vector — the same rows the postings cover.
    */
  private def lshCorpus(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    vectors.filter(col(vecCol).isNotNull).select(col(idCol), col(vecCol))

  /** XOR masks for every sign-flip set of size ≤ probeRadius, built
    * driver-side (combinatorial in probeRadius, never in data). ONE
    * definition shared by the point probe and the batch probe so both
    * paths walk the same Hamming ball — a probe-strategy change (e.g.
    * escalating to r=3) cannot leave the two at different recall
    * operating points.
    */
  private def probeMasks(planes: Int, probeRadius: Int): Seq[Long] =
    (0 to probeRadius).flatMap(r =>
      (0 until planes).combinations(r)
        .map(_.foldLeft(0L)((a, b) => a | (1L << b))).toSeq)

  /** Point probe of a prepared (in-memory or persisted) index. The
    * probe set — every (tbl, bucket) within Hamming radius of the
    * query's signatures — is collected driver-side (296 pairs at the
    * defaults) and applied as an OR-of-ANDs filter on the postings:
    * over the persisted tbl-partitioned, bucket-sorted layout that
    * prunes partitions on `tbl` and row groups on `bucket` min/max.
    * The surviving postings are a broadcast candidate-id set that the
    * corpus is LEFT SEMI-joined against, so each candidate is scored
    * once however many tables it matched in, and the vectors are read
    * once, from the corpus, never from the index. Then score, then
    * top k.
    */
  def annTopKCosineIndexed(index: LshIndex, query: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      planes: Int = 8, tables: Int = 8, probeRadius: Int = 2): DataFrame = {
    val masks = probeMasks(planes, probeRadius)
    val pairs = query.select(
      posexplode_outer(lshBuckets(col("qvec"), dim, planes, tables))
        .as(Seq("tbl", "qb0")))
      .filter(col("qb0").isNotNull)
      .collect()
      .flatMap(r => masks.map(m => (r.getInt(0), r.getLong(1) ^ m)))
      .toSet
    val pred = pairs
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, ps) =>
        col("tbl") === t &&
          col("bucket").isin(ps.map(_._2).toSeq.sorted: _*)
      }
      .reduceOption[Column](_ || _).getOrElse(lit(false))
    val candidates = index.postings.filter(pred).select(col(idCol))
    index.corpus
      .join(broadcast(candidates), Seq(idCol), "left_semi")
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(cosine(col(vecCol).cast("array<double>"),
          col("qvec").cast("array<double>")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** BATCHED multi-query ANN over a prepared LSH index: one shared
    * postings pass serves the whole query block. The point probe
    * ([[annTopKCosineIndexed]]) collects its ~296 probe pairs and
    * partition/row-group-prunes the persisted layout — right when
    * queries arrive one at a time. At BATCH sizes the trade flips:
    * |queries| × 296 probe pairs stop pruning anything (every bucket
    * is probed by someone), so this path instead broadcasts the probe
    * table — (query_id, tbl, bucket), |queries| × tables ×
    * Σ C(planes, ≤r) rows, still broadcast-sized by construction —
    * and hash-joins it INTO one postings scan. The (query, candidate)
    * pairs are deduplicated across tables BEFORE any vector is
    * attached, so the dedup exchange carries two ids per pair; only
    * then do the corpus vectors and the broadcast query vectors join
    * in, and per-query rank ≤ k compiles to WindowGroupLimit.
    *
    * `queries`: (query_id, qvec) — one row per probe vector.
    */
  def annTopKCosineBatch(index: LshIndex, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      planes: Int = 8, tables: Int = 8, probeRadius: Int = 2): DataFrame = {
    val masks = probeMasks(planes, probeRadius)
    // null query vectors carry no geometry and the hashing UDF
    // dereferences the array — excluded, the lshPostings convention
    val qvecs = queries.filter(col("qvec").isNotNull)
      .select(col("query_id"), col("qvec"))
    val probes = qvecs
      .select(col("query_id"),
        posexplode_outer(lshBuckets(col("qvec"), dim, planes, tables))
          .as(Seq("tbl", "qb0")))
      .filter(col("qb0").isNotNull)
      .select(col("query_id"), col("tbl"),
        explode(array(masks.map(m =>
          col("qb0").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col(idCol))
    index.postings.join(broadcast(probes), Seq("tbl", "bucket"))
      // The same (query, candidate) pair surfaces once per matching
      // table/probe: deduplicated here, on ids alone, so each pair is
      // scored once and no duplicate ever carries a vector.
      .select(col("query_id"), col(idCol))
      .distinct()
      .join(index.corpus, Seq(idCol))
      .join(broadcast(qvecs), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        round(cosine(col(vecCol).cast("array<double>"),
          col("qvec").cast("array<double>")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  private[vector] val lshMetaFile = "_graft_lsh_meta"

  /** The marker line naming the persisted layout. Directories written
    * before the postings layout (vector-carrying bucket rows) lack it,
    * so their config mismatches and they take one full rebuild.
    */
  private[vector] val lshLayoutLine = "layout=postings"

  /** Cross-session persisted LSH index (the counterpart of
    * [[IvfIndex.loadOrBuild]]): the POSTINGS — (id, bucket) rows, no
    * vector column — written partitioned by `tbl` and sorted by
    * `bucket` within each table, so the point probe's per-table bucket
    * isin prunes partitions on tbl and parquet row groups on the bucket
    * statistics. The vectors are not copied into the index: the
    * returned [[LshIndex]] pairs the postings with the caller's own
    * corpus frame (non-null vectors), which the probes read to score
    * candidates. Hyperplanes are seed-derived ([[hyperplanes]]) so
    * only config + corpus identity need validating: the marker carries
    * (dim, planes, tables, layout) and the same (count, bit_xor of
    * xxhash64(id)) fingerprint as the IVF index, with the same
    * stamped-last crash semantics. Blind spot: a vector mutated under
    * an unchanged id set keeps its old postings (the marker cannot see
    * it), while scoring reads the caller's CURRENT vectors — so such a
    * vector is ranked by its new value but found through its old
    * buckets. Force a rebuild after such surgery.
    */
  def lshIndexLoadOrBuild(vectors: DataFrame, idCol: String,
      vecCol: String, dim: Int, dir: String,
      planes: Int = 8, tables: Int = 8): LshIndex = {
    val spark = vectors.sparkSession
    val (n, idsum) = PersistedLayout.fingerprint(vectors, idCol, vecCol)
    val config = Seq(
      s"dim=$dim", s"planes=$planes", s"tables=$tables",
      s"id=$idCol", s"vec=$vecCol", lshLayoutLine)
    val want = (config ++ Seq(s"n=$n", s"idsum=$idsum"))
      .mkString("\n") + "\n"
    // Sorted by (tbl, bucket, id), not bucket alone: the dynamic-
    // partition writer requires its input ordered by the partition
    // column and would inject its own non-stable sort on `tbl`,
    // scrambling the bucket order the row-group pruning relies on;
    // with `tbl` leading, that required ordering is already satisfied
    // and the bucket order survives into the files. The trailing id
    // makes the files' bytes independent of shuffle arrival order.
    def sorted(vs: DataFrame): DataFrame =
      lshPostings(vs, idCol, vecCol, dim, planes, tables)
        .repartition(col("tbl"))
        .sortWithinPartitions(col("tbl"), col("bucket"), col(idCol))
    // Incremental append (the LSH twin of [[IvfIndex.loadOrBuild]]'s):
    // hyperplanes are seed-derived from the config alone, so appended
    // rows bucketize into EXACTLY the postings a full rebuild would
    // produce — the append-grown index is bit-identical to a
    // from-scratch one, not merely equivalent. New ids are found with
    // one id anti-join against the `tbl=0` partition (every id appears
    // once per table, so one partition is a complete id roster at
    // 1/tables the scan) and append-written, each batch sorted by
    // bucket within its table so row-group pruning holds on the new
    // files too. Deletions, config drift (an old layout included),
    // growth past [[IvfIndex.appendRefitFrac]], or any old-layout read
    // failure fall through to the full rebuild.
    val postings = PersistedLayout.ensureWith(spark, dir, lshMetaFile, want,
      rebuild = false) { old =>
      PersistedLayout.appendIfGrown(vectors, idCol, vecCol, old, config,
        n, IvfIndex.appendRefitFrac,
        spark.read.parquet(s"$dir/buckets")
          .filter(col("tbl") === 0).select(col(idCol))) { appended =>
        sorted(appended)
          .write.mode("append")
          .partitionBy("tbl")
          .parquet(s"$dir/buckets")
      }
    } {
      sorted(vectors)
        .write.mode("overwrite")
        // static overwrite scoped here for the same reason as the IVF
        // rebuild: a dynamic-overwrite session would keep stale table
        // partitions across a rebuild-after-shrink.
        .option("partitionOverwriteMode", "static")
        .partitionBy("tbl")
        .parquet(s"$dir/buckets")
    } match {
      case PersistedLayout.Busy =>
        // A concurrent session is writing the layout: serve this call
        // from the in-memory postings (identical rows).
        lshPostings(vectors, idCol, vecCol, dim, planes, tables)
      case _ => spark.read.parquet(s"$dir/buckets")
    }
    LshIndex(postings, lshCorpus(vectors, idCol, vecCol))
  }

  /** [[lshIndexLoadOrBuild]] behind the session cache, like
    * [[IvfIndex.loadOrBuildCached]]: the fingerprint probe runs once
    * per (session, dir).
    */
  def lshIndexCached(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, dir: String): LshIndex =
    graft.SessionCache.getOrBuild(vectors.sparkSession,
      s"lshp|$dir|$idCol|$vecCol|dim=$dim") {
      (lshIndexLoadOrBuild(vectors, idCol, vecCol, dim, dir), Nil)
    }
}

/** An LSH index as the probes read it: `postings` holds one
  * (id, tbl, bucket) row per vector per table and no vector column;
  * `corpus` is the (id, vector) frame the postings were built from,
  * non-null vectors only, where every vector lives once.
  */
final case class LshIndex(postings: DataFrame, corpus: DataFrame)
