package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: `entry` must run in a BARE SparkSession — the
  * driver's own smoke session carries none of our configs (no
  * nanosAsLong, ANSI at Spark 4 default), so `entry` must not depend on
  * them.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("entry returns rows in a bare default session") {
    // Every suite shares one JVM: getOrCreate would hand back a session
    // an earlier suite configured (ANSI off, nanosAsLong), so stop it
    // first.
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
        "the session must carry Spark's own defaults")
      assert(SparkEntry.entry(spark).count() > 0)
    } finally spark.stop()
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
