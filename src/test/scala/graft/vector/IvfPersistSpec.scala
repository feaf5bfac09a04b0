package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-session IVF index persistence (round 11): load-or-build
  * returns identical top-k, a second "session" loads instead of
  * re-fitting, corpus drift rebuilds, and the persisted probe is
  * partition-pruned to the probed cells.
  */
class IvfPersistSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dim = 8

  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))
    }.toDF("vec_id", "embedding")
  }

  private def query: DataFrame = {
    import spark.implicits._
    Seq(Tuple1(Seq.fill(dim)(0.5))).toDF("qvec")
  }

  private def topIds(assigned: DataFrame,
      cs: Array[Array[Double]]): Seq[(Long, Double)] =
    IvfIndex.topK(assigned, cs, query, "vec_id", "embedding",
      k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("load-or-build: identical top-k, second call loads, drift rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("ivfp").toString + "/ix"
    val c = corpus(500)
    // Build path vs the in-memory fit: identical results.
    val (a1, cs1) = IvfIndex.loadOrBuild(c, "vec_id", "embedding", 8, dir)
    val (a0, cs0) = IvfIndex.assign(c, "vec_id", "embedding", 8)
    assert(cs1.map(_.toSeq).toSeq == cs0.map(_.toSeq).toSeq,
      "persisted centroids equal the deterministic fit")
    assert(topIds(a1, cs1) == topIds(a0, cs0))

    // Second call = a later session: the assignments' files must keep
    // their bytes (loaded, not re-fitted), results identical.
    def listing(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
        .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
    }
    val before = listing()
    Thread.sleep(1100)
    val (a2, cs2) = IvfIndex.loadOrBuild(c, "vec_id", "embedding", 8, dir)
    assert(listing() == before, "an up-to-date index must load, not rebuild")
    assert(topIds(a2, cs2) == topIds(a1, cs1))

    // Corpus drift (one appended vector) must refresh the layout —
    // since round 12 via the append path (IndexAppendSpec pins its
    // touched-partitions I/O; here only staleness-is-detected).
    val grown = corpus(501)
    IvfIndex.loadOrBuild(grown, "vec_id", "embedding", 8, dir)
    assert(listing() != before, "corpus drift must refresh the index")
    assert(spark.read.parquet(s"$dir/assignments").count() == 501)

    // Config drift (different k) must rebuild too.
    val (_, cs4) = IvfIndex.loadOrBuild(grown, "vec_id", "embedding", 4, dir)
    assert(cs4.length == 4)
  }

  test("persisted probe partition-prunes to the probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpp").toString + "/ix"
    val c = corpus(500)
    val (assigned, cs) = IvfIndex.loadOrBuild(c, "vec_id", "embedding", 8, dir)
    val probe = IvfIndex.topK(assigned, cs, query, "vec_id", "embedding",
      k = 5, nprobe = 3)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"persisted IVF probe must prune to the probed cells:\n${plan.take(600)}")
  }

  test("LSH index: identical top-k, load-not-rebuild, drift, pruned probe") {
    val dir = java.nio.file.Files.createTempDirectory("lshp").toString + "/ix"
    val c = corpus(500)
    def top(ix: LshIndex): Seq[(Long, Double)] =
      VectorOps.annTopKCosineIndexed(ix, query, "vec_id", "embedding",
        k = 5, dim = dim)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inMemory = VectorOps.annTopKCosine(c, query, "vec_id", "embedding",
      k = 5, dim = dim)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ix1 = VectorOps.lshIndexLoadOrBuild(c, "vec_id", "embedding", dim, dir)
    assert(top(ix1) == inMemory,
      "persisted-index probe must equal the in-memory ANN")
    def listing(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir))
        .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
    }
    val before = listing()
    Thread.sleep(1100)
    val ix2 = VectorOps.lshIndexLoadOrBuild(c, "vec_id", "embedding", dim, dir)
    assert(listing() == before, "an up-to-date LSH index must load, not rebuild")
    assert(top(ix2) == inMemory)
    // Probe plan: partition-pruned on tbl, bucket filter pushed to the
    // parquet reader (row-group skipping over the sorted buckets).
    val probe = VectorOps.annTopKCosineIndexed(ix2, query, "vec_id",
      "embedding", k = 5, dim = dim)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tbl".r.findFirstIn(plan).isDefined,
      s"LSH probe must prune table partitions:\n${plan.take(600)}")
    assert("PushedFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"LSH probe must push the bucket filter:\n${plan.take(600)}")
    // Corpus drift refreshes (round 12: via the append path).
    VectorOps.lshIndexLoadOrBuild(corpus(501), "vec_id", "embedding", dim, dir)
    assert(listing() != before, "corpus drift must refresh the LSH index")
  }

  test("a held build lease degrades to the in-memory path, persisting nothing") {
    // Two sessions racing to build one index dir: the loser must not
    // interleave writes into the winner's layout — it serves its query
    // from a deterministic in-memory fit and leaves the dir alone.
    val dir = java.nio.file.Files.createTempDirectory("ivfbusy").toString + "/ix"
    val c = corpus(300)
    val marker = graft.claims.MaintenanceLease.leasePathFor(dir)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.claims.MaintenanceLease.acquire(fs, marker, "other-builder",
      60L * 60 * 1000)
    try {
      val (aBusy, csBusy) = IvfIndex.loadOrBuild(c, "vec_id", "embedding", 8, dir)
      val (a0, cs0) = IvfIndex.assign(c, "vec_id", "embedding", 8)
      assert(topIds(aBusy, csBusy) == topIds(a0, cs0),
        "the busy fallback serves identical results")
      assert(!new java.io.File(dir, IvfIndex.metaFile).exists &&
        !new java.io.File(s"$dir/assignments").exists,
        "a busy builder must not write into the contested layout")
    } finally graft.claims.MaintenanceLease.release(fs, marker, "other-builder")
    // Lease released: the next call builds and persists normally.
    IvfIndex.loadOrBuild(c, "vec_id", "embedding", 8, dir)
    assert(new java.io.File(dir, IvfIndex.metaFile).exists)
  }

  test("a torn build (no marker) is rebuilt, never half-loaded") {
    val dir = java.nio.file.Files.createTempDirectory("ivft").toString + "/ix"
    val c = corpus(200)
    IvfIndex.loadOrBuild(c, "vec_id", "embedding", 8, dir)
    // Crash shape: datasets present, marker gone (stamped last).
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, IvfIndex.metaFile), false)
    val (a, cs) = IvfIndex.loadOrBuild(c, "vec_id", "embedding", 8, dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, IvfIndex.metaFile)),
      "the rebuild re-stamps the marker")
    assert(a.count() == 200 && cs.length == 8)
  }
}
