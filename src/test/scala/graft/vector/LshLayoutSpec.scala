package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted LSH index is a postings list: (id, bucket) rows per
  * `tbl` partition, no vector column; the probes score candidates
  * against the caller's corpus. Pins: (1) no vector column on disk,
  * (2) point and batch probes over the persisted postings return the
  * in-memory ANN's rows, (3) candidates are deduplicated BEFORE any
  * vector joins in — every join that emits the vector column emits at
  * most one row per distinct candidate (per query), (4) a directory in
  * the old vector-carrying layout is rebuilt on first load.
  */
class LshLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dim = 8
  private val planes = 8
  private val tables = 8

  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))
    }.toDF("vec_id", "embedding")
  }

  private val queryIds = Seq(3L, 17L, 29L, 140L)

  private def queries: DataFrame =
    corpus(300).filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  private def oneQuery(id: Long): DataFrame =
    queries.filter(col("query_id") === id).select("qvec")

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def newDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/ix"

  /** Every node of an executed adaptive plan, query stages included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  /** numOutputRows of every executed join whose output carries the
    * corpus vector column.
    */
  private def vectorJoinRows(df: DataFrame): Seq[Long] =
    nodes(df.queryExecution.executedPlan).collect {
      case j: BaseJoinExec if j.output.exists(_.name == "embedding") =>
        j.metrics("numOutputRows").value
    }

  /** Distinct candidate ids of one query vector, derived here from the
    * bucket definitions alone: an id is a candidate when its bucket in
    * some table is within Hamming distance 2 of the query's.
    */
  private def candidates(q: Seq[Double]): Set[Long] = {
    import spark.implicits._
    val qb = Seq(Tuple1(q)).toDF("v")
      .select(VectorOps.lshBuckets(col("v"), dim, planes, tables))
      .head().getSeq[Long](0)
    corpus(300)
      .select(col("vec_id"),
        VectorOps.lshBuckets(col("embedding"), dim, planes, tables))
      .collect()
      .filter { r =>
        val bs = r.getSeq[Long](1)
        bs.indices.exists(t => java.lang.Long.bitCount(bs(t) ^ qb(t)) <= 2)
      }
      .map(_.getLong(0)).toSet
  }

  private def qvec(id: Long): Seq[Double] =
    oneQuery(id).head().getSeq[Double](0)

  test("persisted postings carry no vector column; probes equal the " +
      "in-memory ANN") {
    val dir = newDir("lshl")
    val c = corpus(300)
    val ix = VectorOps.lshIndexLoadOrBuild(c, "vec_id", "embedding", dim, dir)
    val onDisk = spark.read.parquet(s"$dir/buckets")
    assert(onDisk.columns.toSet == Set("vec_id", "bucket", "tbl"),
      s"the persisted buckets must be postings only: ${onDisk.columns.toSeq}")
    assert(onDisk.count() == 300L * tables)
    val marker = PersistedLayout.readMarker(spark, dir, VectorOps.lshMetaFile)
    assert(marker.exists(_.split("\n").contains(VectorOps.lshLayoutLine)),
      s"the marker must name the layout: $marker")

    val batch = VectorOps.annTopKCosineBatch(ix, queries,
      "vec_id", "embedding", k = 5, dim = dim)
      .select("query_id", "vec_id", "cos_sim").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet)
      .toMap
    assert(batch.keySet == queryIds.toSet)
    for (qid <- queryIds) {
      val inMemory = rows(VectorOps.annTopKCosine(c, oneQuery(qid),
        "vec_id", "embedding", k = 5, dim = dim))
      val point = rows(VectorOps.annTopKCosineIndexed(ix, oneQuery(qid),
        "vec_id", "embedding", k = 5, dim = dim))
      assert(point == inMemory, s"query $qid: point probe vs in-memory")
      assert(batch(qid) == inMemory.toSet, s"query $qid: batch vs in-memory")
    }
  }

  test("candidates are deduplicated before the vectors join in") {
    val dir = newDir("lshd")
    val ix = VectorOps.lshIndexLoadOrBuild(corpus(300), "vec_id",
      "embedding", dim, dir)

    val qid = queryIds.head
    val cand = candidates(qvec(qid))
    val point = VectorOps.annTopKCosineIndexed(ix, oneQuery(qid),
      "vec_id", "embedding", k = 5, dim = dim)
    point.collect()
    val pointRows = vectorJoinRows(point)
    assert(pointRows.nonEmpty, "the point probe must join the corpus vectors")
    assert(pointRows.forall(_ == cand.size.toLong),
      s"each vector-carrying join must emit one row per distinct " +
        s"candidate (${cand.size}): $pointRows")

    val pairs = queryIds.map(q => candidates(qvec(q)).size.toLong).sum
    val batch = VectorOps.annTopKCosineBatch(ix, queries,
      "vec_id", "embedding", k = 5, dim = dim)
    batch.collect()
    val batchRows = vectorJoinRows(batch)
    assert(batchRows.nonEmpty, "the batch probe must join the corpus vectors")
    assert(batchRows.forall(_ == pairs),
      s"each vector-carrying join must emit one row per distinct " +
        s"(query, candidate) pair ($pairs): $batchRows")
  }

  test("an old vector-carrying layout is rebuilt on first load") {
    val dir = newDir("lsho")
    val c = corpus(300)
    // The layout written before postings: every (tbl, bucket) row
    // carries its vector, and the marker has no layout line.
    c.select(col("vec_id"), col("embedding"),
        posexplode(VectorOps.lshBuckets(col("embedding"), dim, planes,
          tables)).as(Seq("tbl", "bucket")))
      .repartition(col("tbl"))
      .sortWithinPartitions(col("tbl"), col("bucket"))
      .write.partitionBy("tbl").parquet(s"$dir/buckets")
    val (n, idsum) = PersistedLayout.fingerprint(c, "vec_id", "embedding")
    val oldMarker = Seq(s"dim=$dim", s"planes=$planes", s"tables=$tables",
      "id=vec_id", "vec=embedding", s"n=$n", s"idsum=$idsum")
      .mkString("\n") + "\n"
    val root = new org.apache.hadoop.fs.Path(dir)
    graft.claims.DeleteJournal.writeMarkerAtomic(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root,
      VectorOps.lshMetaFile, oldMarker)
    assert(spark.read.parquet(s"$dir/buckets").columns.contains("embedding"))

    val ix = VectorOps.lshIndexLoadOrBuild(c, "vec_id", "embedding", dim, dir)
    assert(!spark.read.parquet(s"$dir/buckets").columns.contains("embedding"),
      "the first load must rewrite the old layout as postings")
    assert(!ix.postings.columns.contains("embedding"))
    assert(PersistedLayout.readMarker(spark, dir, VectorOps.lshMetaFile)
      .exists(_.split("\n").contains(VectorOps.lshLayoutLine)))
    for (qid <- queryIds)
      assert(rows(VectorOps.annTopKCosineIndexed(ix, oneQuery(qid),
          "vec_id", "embedding", k = 5, dim = dim)) ==
        rows(VectorOps.annTopKCosine(c, oneQuery(qid), "vec_id",
          "embedding", k = 5, dim = dim)),
        s"query $qid: the rebuilt index must probe the in-memory rows")
  }
}
