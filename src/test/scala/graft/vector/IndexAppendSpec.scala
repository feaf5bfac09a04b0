package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental vector-index maintenance (round 12): an append-only
  * corpus grows the persisted IVF/LSH layouts in place — new ids are
  * assigned to the EXISTING cell/bucket geometry and append-written,
  * touching only their partitions — instead of the full refit + full
  * rewrite a fingerprint mismatch used to force. Pins: (1) result
  * equivalence of the append-grown index with a from-scratch build on
  * the grown corpus, (2) old index files byte-untouched and new files
  * confined to the appended rows' partitions, (3) every non-append
  * drift shape (deletion, replacement, config change, growth past the
  * refit threshold) still escalates to the full rebuild.
  */
class IndexAppendSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dim = 8

  private def corpus(from: Int, until: Int): DataFrame = {
    import spark.implicits._
    (from until until).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))
    }.toDF("vec_id", "embedding")
  }

  private def query: DataFrame = {
    import spark.implicits._
    Seq(Tuple1(Seq.fill(dim)(0.5))).toDF("qvec")
  }

  /** (path → (mtime, length)) of every parquet file under `dir`. */
  private def listing(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
      .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
  }

  test("IVF append: old files untouched, new files only in touched cells, " +
      "top-k equals a from-scratch build") {
    val dir = java.nio.file.Files.createTempDirectory("ivfa").toString + "/ix"
    val base = corpus(0, 400)
    val grown = corpus(0, 480) // +20% — under the 25% refit threshold
    val (_, cs0) = IvfIndex.loadOrBuild(base, "vec_id", "embedding", 8, dir)
    val before = listing(dir)
    Thread.sleep(1100) // mtime resolution guard
    val (a1, cs1) = IvfIndex.loadOrBuild(grown, "vec_id", "embedding", 8, dir)
    // The quantizer is NOT refitted on an append — appended rows join
    // the existing cell geometry the layout already partitions by.
    assert(cs1.map(_.toSeq).toSeq == cs0.map(_.toSeq).toSeq,
      "append must keep the existing centroids")
    val after = listing(dir)
    assert(before.forall { case (p, sig) => after.get(p).contains(sig) },
      "append must leave every pre-existing index file byte-untouched")
    // New files land ONLY in the appended rows' cell partitions.
    val touchedCells = IvfIndex.assignWithCentroids(
        corpus(400, 480), "vec_id", "embedding", cs1)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val newFiles = after.keySet.diff(before.keySet)
    assert(newFiles.nonEmpty, "an append must write new files")
    val newCells = newFiles.flatMap(
      "cell=(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toInt))
    assert(newFiles.size == newCells.size && newCells == touchedCells,
      s"append files must cover exactly the touched cells: " +
        s"$newCells vs $touchedCells")
    // Grown index content ≡ a from-scratch assignment of the grown
    // corpus against the same centroids, and the all-cells probe (the
    // exact setting) returns the same top-k as a fresh full build.
    assert(a1.count() == 480)
    val freshDir = java.nio.file.Files.createTempDirectory("ivfaf")
      .toString + "/ix"
    val (a2, cs2) = IvfIndex.loadOrBuild(grown, "vec_id", "embedding", 8,
      freshDir)
    def top(a: DataFrame, cs: Array[Array[Double]]): Seq[(Long, Double)] =
      IvfIndex.topK(a, cs, query, "vec_id", "embedding", k = 10,
        nprobe = cs.length)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(a1, cs1) == top(a2, cs2),
      "append-grown top-k must equal the full-rebuild top-k")
  }

  test("IVF: deletion, replacement, config drift, and >25% growth " +
      "escalate to a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("ivfr").toString + "/ix"
    IvfIndex.loadOrBuild(corpus(0, 400), "vec_id", "embedding", 8, dir)

    def assignmentFiles(): Set[String] =
      listing(dir).keySet.filter(_.contains("assignments"))

    // Growth past the refit threshold: 400 → 600 is +50%.
    val preGrow = assignmentFiles()
    val (aG, _) = IvfIndex.loadOrBuild(corpus(0, 600), "vec_id",
      "embedding", 8, dir)
    assert(aG.count() == 600)
    assert(preGrow.intersect(assignmentFiles()).isEmpty,
      ">threshold growth must rewrite the assignments from scratch")

    // Deletion (a shrunk id set) can never append.
    val preShrink = assignmentFiles()
    val (aS, _) = IvfIndex.loadOrBuild(corpus(0, 550), "vec_id",
      "embedding", 8, dir)
    assert(aS.count() == 550)
    assert(preShrink.intersect(assignmentFiles()).isEmpty,
      "deletion must rewrite the assignments from scratch")

    // Replacement at constant count (ids shifted by one): the id-set
    // fingerprint moves but n does not — still a full rebuild, and the
    // stale id 0 must be gone from the stored assignments.
    val preSwap = assignmentFiles()
    val (aR, _) = IvfIndex.loadOrBuild(corpus(1, 551), "vec_id",
      "embedding", 8, dir)
    assert(preSwap.intersect(assignmentFiles()).isEmpty,
      "replacement must rewrite the assignments from scratch")
    assert(aR.count() == 550 &&
      aR.filter(col("vec_id") === 0L).isEmpty,
      "the replaced id must not survive in the rebuilt index")

    // Config drift (k) refits even at an identical corpus.
    val preK = assignmentFiles()
    val (_, cs4) = IvfIndex.loadOrBuild(corpus(1, 551), "vec_id",
      "embedding", 4, dir)
    assert(cs4.length == 4 && preK.intersect(assignmentFiles()).isEmpty,
      "config drift must refit")
  }

  test("LSH append: bit-identical to a fresh build, old files untouched, " +
      "appended files sorted for row-group pruning") {
    val dir = java.nio.file.Files.createTempDirectory("lsha").toString + "/ix"
    val base = corpus(0, 400)
    val grown = corpus(0, 480)
    VectorOps.lshIndexLoadOrBuild(base, "vec_id", "embedding", dim, dir)
    val before = listing(dir)
    Thread.sleep(1100)
    val ix = VectorOps.lshIndexLoadOrBuild(grown, "vec_id", "embedding",
      dim, dir)
    val after = listing(dir)
    assert(before.forall { case (p, sig) => after.get(p).contains(sig) },
      "append must leave every pre-existing LSH file byte-untouched")
    assert(after.keySet.diff(before.keySet).nonEmpty)
    // Hyperplanes derive from config alone, so the append-grown index
    // must hold EXACTLY the rows a from-scratch build would: compare
    // against a fresh build in a clean dir.
    val freshDir = java.nio.file.Files.createTempDirectory("lshaf")
      .toString + "/ix"
    val fresh = VectorOps.lshIndexLoadOrBuild(grown, "vec_id", "embedding",
      dim, freshDir)
    assert(ix.postings.count() == fresh.postings.count())
    assert(ix.postings.select("vec_id", "tbl", "bucket")
      .exceptAll(fresh.postings.select("vec_id", "tbl", "bucket")).isEmpty,
      "append-grown LSH rows must be bit-identical to a fresh build's")
    // Probe equivalence with the in-memory path on the grown corpus.
    def ids(df: DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(
      ids(VectorOps.annTopKCosineIndexed(ix, query, "vec_id", "embedding",
        k = 5, dim = dim)) ==
      ids(VectorOps.annTopKCosine(grown, query, "vec_id", "embedding",
        k = 5, dim = dim)),
      "append-grown probe must equal the in-memory ANN on the grown corpus")
    // Every appended file keeps the bucket-sorted invariant the
    // row-group pruning relies on.
    after.keySet.diff(before.keySet).foreach { f =>
      val buckets = spark.read.parquet(f).select("bucket")
        .collect().map(_.getLong(0)).toSeq
      assert(buckets == buckets.sorted,
        s"appended LSH file must stay bucket-sorted: $f")
    }
  }

  test("recall holds at the append boundary: +24.5% via accumulated appends " +
      "keeps mean recall@10 over the 0.8 floor") {
    // Round-12 verdict item 6: the 25% growth-refit threshold was a
    // heuristic — nothing measured recall drift as appends accumulated
    // toward it. The threshold is PER-APPEND (each append compares
    // against the marker it replaces), so three sub-25% appends here
    // push the corpus 24.5% past the geometry's fit WITHOUT a refit —
    // the worst stale-centroid state the design permits between
    // refits — and the floor audit must still clear.
    val dir = java.nio.file.Files.createTempDirectory("ivfb").toString + "/ix"
    val (_, cs0) = IvfIndex.loadOrBuild(corpus(0, 400), "vec_id",
      "embedding", 8, dir)
    IvfIndex.loadOrBuild(corpus(0, 440), "vec_id", "embedding", 8, dir)
    IvfIndex.loadOrBuild(corpus(0, 470), "vec_id", "embedding", 8, dir)
    val (a, cs) = IvfIndex.loadOrBuild(corpus(0, 498), "vec_id",
      "embedding", 8, dir)
    // Evidence the growth really rode the append path: the geometry is
    // still the base fit (a refit would move the centroids).
    assert(cs.map(_.toSeq).toSeq == cs0.map(_.toSeq).toSeq,
      "accumulated sub-threshold appends must never refit")
    assert(a.count() == 498)
    // Mean recall@10 over 20 seeded queries, nprobe=4 of 8 cells —
    // the same floor the driver's q_vector_ann_floor audits (≥0.8).
    import spark.implicits._
    val grown = corpus(0, 498)
    val recalls = (0 until 20).map { q =>
      val rnd = new scala.util.Random(9000 + q)
      val qv = Seq.fill(dim)(rnd.nextGaussian())
      val qdf = Seq(Tuple1(qv)).toDF("qvec")
      val exact = VectorOps.topKCosine(grown, qdf, "vec_id", "embedding",
        k = 10).collect().map(_.getLong(0)).toSet
      val approx = IvfIndex.topK(a, cs, qdf, "vec_id", "embedding",
        k = 10, nprobe = 4).collect().map(_.getLong(0)).toSet
      exact.intersect(approx).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8,
      f"append-boundary mean recall@10 = $mean%.3f — the stale-centroid " +
        "drift the 25%% threshold permits must stay over the audit floor")
  }

  test("appendIfGrown pins the delta: the write hook reads a cached frame, " +
      "one roster anti-join per append") {
    import spark.implicits._
    val corpusDf = (0L until 120L).map(i => (i, s"v$i")).toDF("id", "v")
    val roster = (0L until 100L).map(Tuple1(_)).toDF("id")
    val old = "cfg=1\nn=100\nidsum=7\n"
    var captured: org.apache.spark.sql.DataFrame = null
    var hookCount = -1L
    val ok = PersistedLayout.appendIfGrown(corpusDf, "id", "v", old,
      Seq("cfg=1"), n = 120L, maxGrowFrac = 1.0, roster = roster) { d =>
      // The count proof already materialized the delta into the cache;
      // this hook's actions must read it back instead of re-running
      // the corpus-id anti-join (round-12 verdict item 7).
      captured = d
      assert(d.storageLevel.useMemory || d.storageLevel.useDisk,
        "the delta handed to the write hook must be pinned")
      hookCount = d.count()
    }
    assert(ok && hookCount == 20)
    // And the pin is released once the append returns.
    assert(captured.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the delta must be unpersisted after the append")
  }

  test("a crashed append (partial files, no marker) rebuilds cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("ivfc").toString + "/ix"
    val base = corpus(0, 400)
    val grown = corpus(0, 450)
    IvfIndex.loadOrBuild(base, "vec_id", "embedding", 8, dir)
    // Simulate the crash window: the old marker is gone
    // (invalidate-first) and SOME appended rows committed before the
    // writer died — extra files in one cell dir, no marker.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, IvfIndex.metaFile), false)
    corpus(400, 420).withColumn("cell", lit(3))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$dir/assignments")
    // Next load on the grown corpus: marker absent → old marker None →
    // no append hook → FULL rebuild; overwrite wipes the partial files.
    val (a, cs) = IvfIndex.loadOrBuild(grown, "vec_id", "embedding", 8, dir)
    assert(a.count() == 450 && cs.length == 8)
    assert(a.groupBy("vec_id").count()
      .filter(col("count") > 1).isEmpty,
      "the rebuild must not carry the crashed append's partial rows")
    // And the rebuilt layout loads fresh next time.
    val (a2, _) = IvfIndex.loadOrBuild(grown, "vec_id", "embedding", 8, dir)
    assert(a2.count() == 450)
  }

  test("LSH: deletion and config drift escalate to a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("lshr").toString + "/ix"
    VectorOps.lshIndexLoadOrBuild(corpus(0, 400), "vec_id", "embedding",
      dim, dir)
    val pre = listing(dir).keySet
    val ix = VectorOps.lshIndexLoadOrBuild(corpus(0, 300), "vec_id",
      "embedding", dim, dir)
    assert(pre.intersect(listing(dir).keySet).isEmpty,
      "deletion must rewrite the LSH buckets from scratch")
    assert(ix.postings.select("vec_id").distinct().count() == 300)
    val pre2 = listing(dir).keySet
    VectorOps.lshIndexLoadOrBuild(corpus(0, 300), "vec_id", "embedding",
      dim, dir, planes = 6)
    assert(pre2.intersect(listing(dir).keySet).isEmpty,
      "config drift must rewrite the LSH buckets from scratch")
  }
}
