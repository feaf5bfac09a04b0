package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every Spark job an entry starts traces back to that entry through its
  * job group ([[GraftSession.inJobGroup]]).
  */
class GraftSessionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .getOrCreate()

  private val groupKey = "spark.jobGroup.id"

  /** The job-group id (None outside a group) of every job `body` starts,
    * in start order. The listener bus is asynchronous but delivers one
    * listener's events in post order, so marker jobs run before and
    * after `body` bound exactly its jobs.
    */
  private def jobGroupsOf(body: => Unit): Seq[Option[String]] = {
    val sc = spark.sparkContext
    val marker = "graft.spec.marker"
    val groups = new ConcurrentLinkedQueue[Option[String]]()
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var open = false
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        prop(marker) match {
          case Some("start") => open = true
          case Some("end") => done.countDown()
          case _ => if (open) groups.add(prop(groupKey))
        }
      }
    }
    def markerJob(tag: String): Unit = {
      sc.setLocalProperty(marker, tag)
      try spark.range(1).collect() finally sc.setLocalProperty(marker, null)
    }
    sc.addSparkListener(listener)
    try {
      markerJob("start")
      body
      markerJob("end")
      assert(done.await(60, TimeUnit.SECONDS), "the end marker job was never seen")
      groups.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("every job an entry starts carries the entry's job group, cleared after") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val name = "q_planted"
    val inside = jobGroupsOf {
      GraftSession.inJobGroup(spark, name) {
        // Shuffle stages and a broadcast build: AQE submits the latter
        // from another thread, which must inherit the group.
        val facts = spark.range(0, 100000, 1, 8).withColumn("k", col("id") % 100)
        val dim = spark.range(100).withColumnRenamed("id", "k")
        facts.join(broadcast(dim), "k").groupBy("k").count().orderBy("k")
          .write.mode("overwrite").format("noop").save()
      }
    }
    assert(inside.nonEmpty, "the entry started no job")
    assert(inside.forall(_.contains(name)), s"jobs outside the entry's group: $inside")
    val after = jobGroupsOf(spark.range(10).selectExpr("sum(id)").collect())
    assert(after.nonEmpty && after.forall(_.isEmpty),
      s"the group leaked past the entry: $after")
  }

  test("the job group is cleared when the entry throws") {
    val e = intercept[IllegalStateException] {
      GraftSession.inJobGroup(spark, "q_boom") {
        spark.range(5).collect()
        throw new IllegalStateException("planted")
      }
    }
    assert(e.getMessage === "planted")
    assert(spark.sparkContext.getLocalProperty(groupKey) === null)
  }

  test("jsonStr output parses back to the input string") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val inputs = Seq("", "plain", "say \"hi\"", "C:\\dir\\", "a\tb", "a\r\nb",
      "line1\nline2", "ctl\u0001x", "all: \" \\ \t \r \n \u0001 \u001f end")
    inputs.foreach { s =>
      val lit = GraftSession.jsonStr(s)
      assert(!lit.exists(_ < ' '), s"raw control char in $lit")
      assert(mapper.readValue(lit, classOf[String]) === s)
    }
  }
}
