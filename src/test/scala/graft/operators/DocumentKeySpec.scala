package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `documents.doc_id` is the key the per-source entries join the
  * posting frame on: a duplicated id would multiply its token counts.
  * Both entries must fail loudly on a planted duplicate and run on the
  * same table without it.
  */
class DocumentKeySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .getOrCreate()

  private val docs = Seq(
    (1L, "the quick brown fox jumps", "web"),
    (2L, "the lazy dog sleeps all day", "web"),
    (3L, "quick brown dogs jump high", "books"),
    (4L, "a lazy fox naps in the sun", "books"))

  /** A dataset dir holding only `documents.parquet`. */
  private def dataset(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("docs").toString
    rows.toDF("doc_id", "text", "source")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq

  for (entry <- Seq("q_source_keyness", "q_source_overlap"))
    test(s"$entry refuses a duplicated doc_id") {
      val fn = graft.SparkEntry.queries(entry)
      assert(fn(spark, dataset(docs)).collect().nonEmpty)
      val planted = dataset(docs :+ ((3L, "quick brown dogs jump high", "web")))
      val err = intercept[Exception](fn(spark, planted).collect())
      assert(messages(err).exists(_.contains("documents.doc_id is not unique: 3")),
        messages(err).mkString("\n"))
    }
}
